"""Substring / SQL-LIKE search served from the trigram index.

SQLite's fts5 trigram tokenizer exists precisely to accelerate
``LIKE``/``GLOB`` predicates with an inverted index (SQLite fts5 docs
§4.3.3: "the trigram tokenizer allows fts5 to be used to speed up LIKE
and GLOB queries"). This is the engine's Spark-native analogue:

1. the pattern's maximal LITERAL RUNS (split on ``%`` and ``_``) of
   ≥3 codepoints are case-folded with the index's probed fold table and
   turned into trigram PHRASES — a doc's folded text contains a run as
   a substring **iff** the run's trigrams occur at consecutive
   positions (1:1 fold, so window i covers codepoints [i, i+3));
2. candidates = docs matching ALL run phrases (inner doc_id joins of
   bucket-pruned posting decodes — never a corpus scan);
3. a residual JVM-side regex filter over the candidates makes the
   result exact (it re-checks case sensitivity, ``_`` single-char
   arity, run ordering/overlap, and runs shorter than a trigram).

The candidate set is a sound superset for both case modes: the index
folds doc text with the same table the pattern runs are folded with,
and ASCII LIKE-folding is a subset of the trigram fold. Patterns with
no ≥3-cp literal run (e.g. ``%ab%``) fall back to a full corpus filter
— exactly when SQLite's LIKE optimization bails out too.

Scale shape: the expensive operand is the phrase decode, which rides
the standard bucket-pruned postings path; the corpus is touched only
by a semi-join on the (typically tiny) candidate set plus the residual
filter. No driver-side collects.
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import DataFrame, functions as F

from sparkgrep.functions._trigramfold import TRIGRAM_FOLD
from sparkgrep.functions.tokenizer import base_analyzer, trigram_fold


def literal_runs(pattern: str) -> list[str]:
    """Maximal literal substrings of a LIKE pattern (``%`` = any run,
    ``_`` = any single char; backslash escapes are not interpreted —
    callers with escaped patterns should pre-process)."""
    runs, cur = [], []
    for ch in pattern:
        if ch in "%_":
            if cur:
                runs.append("".join(cur))
                cur = []
        else:
            cur.append(ch)
    if cur:
        runs.append("".join(cur))
    return runs


def like_candidates(
    index, pattern: str, case_insensitive: bool = False
) -> DataFrame | None:
    """doc_ids possibly matching ``pattern`` (sound superset), from the
    trigram index alone — or None when indexed candidate generation
    cannot prune anything: no ≥3-cp literal run, or a CASE-INSENSITIVE
    predicate over a ``case_sensitive 1`` index (raw-case trigrams
    cannot cover case variants — SQLite's planner likewise refuses the
    trigram index for LIKE on case_sensitive=1 tables, probed)."""
    if base_analyzer(index.meta.analyzer) != "trigram":
        raise ValueError(
            "like_search needs an index built with analyzer='trigram' "
            f"(got {index.meta.analyzer!r})"
        )
    fold = trigram_fold(index.meta.analyzer)
    if case_insensitive and not fold:
        return None  # case_sensitive=1 index: unfolded postings can't prune
    runs = {
        r.translate(fold)
        for r in literal_runs(pattern)
        if len(r) >= 3
    }
    if not runs:
        return None
    return _runs_docs(index, runs)


def _runs_docs(index, runs: set[str]) -> DataFrame:
    """doc_ids (distinct) holding every folded literal run: a run's
    trigrams at consecutive positions of one field — the index's phrase
    starts."""
    cands = [
        index._phrase_starts_any(
            tuple(r[i : i + 3] for i in range(len(r) - 2)), ()
        ).select("doc_id").distinct()
        for r in sorted(runs)
    ]
    return reduce(lambda a, b: a.join(b, "doc_id"), cands)


def glob_runs_and_regex(pattern: str) -> tuple[list[str], str]:
    """Parse a SQLite GLOB pattern → (literal runs, equivalent Java
    regex). GLOB is case-SENSITIVE with ``*`` (any run, crosses
    newlines — probed), ``?`` (one char) and ``[seq]``/``[^seq]``
    classes where a leading ``]`` is literal (all probed against
    SQLite's globCompare)."""
    runs: list[str] = []
    cur: list[str] = []
    # \A..\z, not ^..$: Java's '$' (Spark rlike) matches BEFORE a final
    # line terminator, so '^abc$' would accept 'abc\n' — SQLite's
    # globCompare does not
    rx = ["(?s)\\A"]

    def _flush():
        if cur:
            runs.append("".join(cur))
            cur.clear()

    i, n = 0, len(pattern)
    while i < n:
        c = pattern[i]
        if c == "*":
            _flush()
            rx.append(".*")
            i += 1
        elif c == "?":
            _flush()
            rx.append(".")
            i += 1
        elif c == "[":
            _flush()
            j = i + 1
            neg = j < n and pattern[j] == "^"
            if neg:
                j += 1
            body_start = j
            if j < n and pattern[j] == "]":  # leading ']' is literal
                j += 1
            while j < n and pattern[j] != "]":
                j += 1
            if j >= n:  # unterminated class: literal '[' (SQLite: no match
                # is possible, but a literal read keeps the residual exact
                # via the regex; candidates stay a superset either way)
                cur.append("[")
                rx.append(re.escape("["))
                i += 1
                continue
            body = pattern[body_start:j]
            # escape regex metachars inside the class except '-' ranges
            # ('&' included: '[a&&b]' is Java class INTERSECTION — empty
            # here — while SQLite reads '&' as an ordinary member)
            esc = body.replace("\\", "\\\\").replace("]", "\\]").replace(
                "^", "\\^").replace("[", "\\[").replace("&", "\\&")
            rx.append("[" + ("^" if neg else "") + esc + "]")
            i = j + 1
        else:
            cur.append(c)
            rx.append(re.escape(c))
            i += 1
    _flush()
    rx.append("\\z")
    return runs, "".join(rx)


def glob_search(
    index,
    corpus: DataFrame,
    pattern: str,
    text_col: str = "content",
) -> DataFrame:
    """doc_ids whose ``text_col`` matches the SQLite GLOB ``pattern``,
    ordered by doc_id — same candidate-then-verify shape as
    :func:`like_search` (SQLite's trigram LIKE/GLOB optimization).
    GLOB is case-sensitive; the folded trigram candidates remain a
    sound superset, and the residual ``rlike`` enforces exact case."""
    if base_analyzer(index.meta.analyzer) != "trigram":
        raise ValueError(
            "glob_search needs an index built with analyzer='trigram' "
            f"(got {index.meta.analyzer!r})"
        )
    runs, regex = glob_runs_and_regex(pattern)
    # GLOB is case-sensitive: under case_sensitive 1 the raw trigrams
    # are sound AND tighter (no case-variant candidates); under the
    # default fold the candidates are the usual sound superset
    tri = {
        r.translate(trigram_fold(index.meta.analyzer))
        for r in runs
        if len(r) >= 3
    }
    base = corpus
    if tri:
        base = corpus.join(_runs_docs(index, tri), "doc_id", "left_semi")
    return (
        base.filter(F.col(text_col).rlike(regex))
        .select("doc_id")
        .orderBy("doc_id")
    )


def like_search(
    index,
    corpus: DataFrame,
    pattern: str,
    case_insensitive: bool = False,
    text_col: str = "content",
) -> DataFrame:
    """doc_ids whose ``text_col`` matches the SQL LIKE ``pattern``,
    ordered by doc_id. Exact (candidates + residual verify). Both
    residuals are one literal Java regex (:func:`_like_regex`): Spark's
    native ``like`` would read ``\\`` as its default escape character,
    while SQLite LIKE has no default ESCAPE (``a\\%`` matches text
    starting with ``a\\``). The case-insensitive one adds ``(?i)``
    WITHOUT ``UNICODE_CASE`` — i.e. ASCII-only case folding, which is
    exactly SQLite LIKE's documented behavior. Spark's ``ilike`` (full
    Java Unicode lowercasing, e.g. U+0130 → 'i'+U+0307) would both
    diverge from SQLite and break candidate soundness: the trigram fold
    is a superset of the ASCII fold, not of Java's."""
    cand = like_candidates(index, pattern, case_insensitive)
    base = corpus
    if cand is not None:
        base = corpus.join(cand, "doc_id", "left_semi")
    cond = F.col(text_col).rlike(_like_regex(pattern, case_insensitive))
    return base.filter(cond).select("doc_id").orderBy("doc_id")


def _like_regex(pattern: str, case_insensitive: bool) -> str:
    """SQLite-faithful LIKE as a Java regex: '%' → .*, '_' → ., every
    other character literal (backslash included — no default ESCAPE);
    (?i) without UNICODE_CASE gives ASCII-only case equivalence;
    \\A..\\z anchors exactly (no trailing-newline leniency)."""
    parts = ["(?si)\\A" if case_insensitive else "(?s)\\A"]
    for ch in pattern:
        if ch == "%":
            parts.append(".*")
        elif ch == "_":
            parts.append(".")
        else:
            parts.append(re.escape(ch))
    parts.append("\\z")
    return "".join(parts)
