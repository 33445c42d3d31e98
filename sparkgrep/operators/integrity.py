"""FTS5's ``integrity-check`` special command, distributed
(sqlite.org/fts5.html#the_integrity_check_command; the reference's FTS5
table exposes the same command — with external content it compares the
index against the content table, which is exactly this engine's shape:
postings live in the index directory, content in the corpus table).

``integrity_check`` recomputes the expected index relation from the
corpus through an INDEPENDENT code path — ``tokens_col`` → explode →
groupBy, never the SPIMI kernels or the varint codec — and full-outer
joins it against the decoded postings, so a defect anywhere in
tokenize-kernel / run-encode / merge / compress / layer / tombstone /
compaction machinery surfaces as a concrete (term, doc_id) discrepancy
row. Verified per level: posting tf multiset (prefix-marker entries
included, rederived from FTS5's documented rule — every term with >= n
chars contributes to '\\x02'+term[:n]), per-doc lengths, stored
positions (optional), and the root stats integers.

Cost is one aggregation + one join shuffle over the corpus — the same
O(corpus) FTS5 pays; it's an audit tool, not a query path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkgrep.functions.tokenizer import tokens_col
from sparkgrep.operators.index_build import PREFIX_MARKER, load_meta


def _expected_postings(corpus: DataFrame, meta, use_lang: bool, positions: bool):
    """(term, doc_id[, col], tf[, positions]) + (doc_id, dl) recomputed
    from the corpus under the index's own analyzer/fields/detail/prefix
    configuration, via the declarative path (explode + groupBy)."""
    lang = F.col("lang") if use_lang and "lang" in corpus.columns else None
    fields = list(meta.fields or ())
    collapse = bool(fields) and not meta.per_field

    if fields:
        per_field = None
        toked = corpus
        for i, fld in enumerate(fields):
            toked = toked.withColumn(
                f"__toks{i}", tokens_col(F.col(fld), meta.analyzer, lang)
            )
        # dl = total token count across fields (the stored row total)
        dl_expr = sum(F.size(f"__toks{i}") for i in range(len(fields)))
        toked = toked.withColumn("dl", dl_expr.cast("int"))
        lens = toked.select("doc_id", "dl")
        for i in range(len(fields)):
            part = toked.select(
                "doc_id",
                "dl",
                F.lit(i).cast("int").alias("col"),
                F.posexplode(f"__toks{i}").alias("pos", "term"),
            )
            per_field = part if per_field is None else per_field.unionByName(part)
        keys = ["term", "doc_id"] + ([] if collapse else ["col"])
        aggs = [
            F.count("*").cast("int").alias("tf"),
            F.first("dl").alias("dl"),
        ]
        if positions and not collapse:
            aggs.append(F.array_sort(F.collect_list("pos")).alias("positions"))
        # collapsed (detail=none) rows re-aggregate to the single-field
        # shape — no col key, exactly what the index stores and decodes
        exp = per_field.groupBy(*keys).agg(*aggs)
        return exp, lens, keys

    toked = corpus.withColumn(
        "__toks", tokens_col(F.col("content"), meta.analyzer, lang)
    ).withColumn("dl", F.size("__toks").cast("int"))
    lens = toked.select("doc_id", "dl")
    part = toked.select(
        "doc_id", "dl", F.posexplode("__toks").alias("pos", "term")
    )
    aggs = [F.count("*").cast("int").alias("tf"), F.first("dl").alias("dl")]
    if positions:
        aggs.append(F.array_sort(F.collect_list("pos")).alias("positions"))
    exp = part.groupBy("term", "doc_id").agg(*aggs)
    return exp, lens, ["term", "doc_id"]


def _derive_markers(exp: DataFrame, meta, keys: list[str], positions: bool):
    """Expected prefix-index entries, rederived from the expected term
    rows under FTS5's rule: for each configured length n, every term
    with >= n chars contributes tf (and merged positions) to the
    aggregated entry '\\x02' + term[:n]."""
    out = None
    for n in meta.prefix or ():
        sub = exp.filter(F.length("term") >= int(n)).withColumn(
            "term", F.concat(F.lit(PREFIX_MARKER), F.substring("term", 1, int(n)))
        )
        out = sub if out is None else out.unionByName(sub)
    if out is None:
        return None
    aggs = [
        F.sum("tf").cast("int").alias("tf"),
        F.first("dl").alias("dl"),
    ]
    if positions:
        aggs.append(
            F.array_sort(F.flatten(F.collect_list("positions"))).alias("positions")
        )
    return out.groupBy(*keys).agg(*aggs)


def integrity_check(
    corpus: DataFrame,
    index_dir: str,
    use_lang: bool = False,
    check_positions: bool = False,
) -> DataFrame:
    """Compare the index at ``index_dir`` against ``corpus`` (the
    external content). Returns a DataFrame of discrepancies — EMPTY when
    the index is consistent — with columns

        kind     'posting' | 'positions' | 'doc_len' | 'stats'
        term     the term ('' for doc_len/stats rows)
        doc_id   the doc (-1 for stats rows)
        col      field index (-1 when not applicable)
        expected / actual   stringified values (NULL = side absent)

    ``check_positions=True`` additionally compares every stored
    position list on a positional index (ignored otherwise)."""
    from sparkgrep.operators.query import InvertedIndex

    spark = corpus.sparkSession
    meta = load_meta(index_dir)
    positions = bool(check_positions and meta.has_positions)
    idx = InvertedIndex(spark, index_dir)
    multi = meta.per_field

    exp, lens, keys = _expected_postings(corpus, meta, use_lang, positions)
    exp = exp.persist()
    markers = _derive_markers(exp, meta, keys, positions)
    if markers is not None:
        exp_all = exp.unionByName(markers)
    else:
        exp_all = exp

    act = idx.decode_raw(with_positions=positions)
    if not multi:  # single-field layout (incl. detail=none collapsed)
        act = act.withColumn("col", F.lit(-1).cast("int"))
        exp_all = exp_all.withColumn("col", F.lit(-1).cast("int"))
    jk = ["term", "doc_id", "col"]

    e = exp_all.select(
        *jk,
        F.col("tf").alias("e_tf"),
        *([F.col("positions").alias("e_pos")] if positions else []),
    )
    a = act.select(
        *jk,
        F.col("tf").alias("a_tf"),
        *([F.col("positions").alias("a_pos")] if positions else []),
    )
    j = e.join(a, jk, "full_outer")
    bad_tf = j.filter(
        F.col("e_tf").isNull()
        | F.col("a_tf").isNull()
        | (F.col("e_tf") != F.col("a_tf"))
    ).select(
        F.lit("posting").alias("kind"),
        "term",
        "doc_id",
        "col",
        F.col("e_tf").cast("string").alias("expected"),
        F.col("a_tf").cast("string").alias("actual"),
    )
    out = bad_tf
    if positions:
        bad_pos = j.filter(
            F.col("e_tf").isNotNull()
            & F.col("a_tf").isNotNull()
            & (F.col("e_pos").cast("string") != F.col("a_pos").cast("string"))
        ).select(
            F.lit("positions").alias("kind"),
            "term",
            "doc_id",
            "col",
            F.col("e_pos").cast("string").alias("expected"),
            F.col("a_pos").cast("string").alias("actual"),
        )
        out = out.unionByName(bad_pos)

    # per-doc lengths: layered doc_lens minus tombstone-dead ids
    dls = None
    for seq, d in enumerate(idx.layer_dirs):
        part = spark.read.schema("doc_id long, dl int").parquet(f"{d}/doc_lens")
        dead = idx.dead_ids_df(seq)
        if dead is not None:
            part = part.join(F.broadcast(dead), "doc_id", "left_anti")
        dls = part if dls is None else dls.unionByName(part)
    lj = (
        lens.withColumnRenamed("dl", "e_dl")
        .join(dls.withColumnRenamed("dl", "a_dl"), "doc_id", "full_outer")
        .filter(
            F.col("e_dl").isNull()
            | F.col("a_dl").isNull()
            | (F.col("e_dl") != F.col("a_dl"))
        )
        .select(
            F.lit("doc_len").alias("kind"),
            F.lit("").alias("term"),
            "doc_id",
            F.lit(-1).cast("int").alias("col"),
            F.col("e_dl").cast("string").alias("expected"),
            F.col("a_dl").cast("string").alias("actual"),
        )
    )
    out = out.unionByName(lj)

    # root stats: exact integers, avgdl = tot/N in the same double division
    agg = lens.agg(
        F.count("*").alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("tot")
    ).collect()[0]
    n, tot = int(agg["n"]), int(agg["tot"])
    stats_rows = []
    for name, e_v, a_v in (
        ("stats:n_docs", n, meta.n_docs),
        ("stats:total_tokens", tot, meta.total_tokens),
        ("stats:avgdl", (tot / n) if n else 0.0, meta.avgdl),
    ):
        if e_v != a_v:
            stats_rows.append(("stats", name, -1, -1, str(e_v), str(a_v)))
    if stats_rows:
        bad_stats = spark.createDataFrame(
            stats_rows, "kind string, term string, doc_id long, col int, "
            "expected string, actual string",
        )
        out = out.unionByName(bad_stats)
    # materialize the discrepancy relation WHILE exp is still persisted:
    # the three union branches (tf join, positions, doc_len) all read
    # exp, so a lazy return after unpersist would recompute the
    # expensive tokenize+explode+groupBy once per branch. Discrepancies
    # are tiny in the non-corrupted case (empty); localCheckpoint keeps
    # them executor-side without a driver collect.
    out = out.localCheckpoint(eager=True)
    exp.unpersist()
    return out
