"""Seeded inputs for the benchmark: a code corpus and per-class query pools.

Everything here is derived from ``--seed`` alone and lives in the
benchmark's own files, so a change to ``sparkgrep/sources/corpus.py``
cannot move the workload.

Corpus shape (the same shape as ``synth_code_corpus``): every document is
~60-180 words, of which ~30% come from a Zipf head of hot keywords, ~25%
are ``stem_stem`` identifiers, ~25% are ``stem_stemNNN`` identifiers whose
numeric suffix is cube-skewed towards small numbers (the long tail), and
the rest are bare stems.

Query shapes are fixed per class so that every seed asks for the same kind
of work: a *band* token is a tail token whose document frequency lies in
``[N/100, N/20]`` (a rare anchor), a *hot* token is a bare stem present in
most documents. Phrase and NEAR queries pair two hot stems, so their
positional work spans most documents; they are cut out of generated
documents, so they match. Every pool ends with one query whose tokens occur nowhere in
the corpus; it must return an empty result.
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass

import numpy as np

KEYWORDS = ("def", "import", "return", "class", "self", "for", "if", "in")
_BASE_STEMS = (
    "parse", "config", "hash", "join", "build", "side", "index", "merge",
    "token", "stream", "buffer", "cache", "query", "plan", "shard", "batch",
    "row", "column", "scan", "filter", "sort", "spill", "codec", "varint",
)
# 40 stems: the 24 bases, then numbered variants (parse1, config2, ...)
STEMS = tuple(
    f"{_BASE_STEMS[j % 24]}{j // 24}" if j >= 24 else _BASE_STEMS[j]
    for j in range(40)
)
LANGS = (("python", "py"), ("java", "java"), ("go", "go"), ("js", "js"), ("rust", "rs"))
SUFFIX_CARDINALITY = 1000
# tokens no generated document contains: letters outside every stem/keyword
_ABSENT = ("qzxv", "wqyj", "xjqz", "vzkq")
_TOKEN_RE = re.compile(r"[a-z0-9]+")

CLASSES = ("or", "bool", "phrase", "near")


@dataclass(frozen=True)
class Pools:
    """Per-class query pools. The last query of every pool matches nothing."""

    queries: dict[str, tuple[str, ...]]

    def zero(self, cls: str) -> str:
        return self.queries[cls][-1]


def tokens(text: str) -> list[str]:
    """The corpus is lower-case words joined by ``_`` and spaces, so this
    split equals the ``code`` analyzer's on it. Used only to choose
    queries; the engine's tokenizer is what gets measured."""
    return _TOKEN_RE.findall(text)


def corpus_rows(seed: int, n_docs: int, first_id: int = 0) -> list[dict]:
    """``n_docs`` documents with doc_ids ``first_id..first_id+n_docs-1``."""
    rng = np.random.default_rng([seed, first_id])
    keywords = np.array(KEYWORDS, dtype=object)
    stems = np.array(STEMS, dtype=object)
    rows = []
    for doc_id in range(first_id, first_id + n_docs):
        n = 60 + int(rng.integers(0, 120))
        kind = rng.random(n)
        a = stems[rng.integers(0, len(stems), n)]
        b = stems[rng.integers(0, len(stems), n)]
        suf = (rng.random(n) ** 3 * SUFFIX_CARDINALITY).astype(int).astype(str)
        words = np.where(
            kind < 0.30,
            keywords[rng.integers(0, len(keywords), n)],
            np.where(
                kind < 0.55,
                a + "_" + b,
                np.where(kind < 0.80, a + "_" + b + suf, a),
            ),
        )
        lang, ext = LANGS[doc_id % len(LANGS)]
        rows.append({
            "repo": f"org{doc_id % 7}/proj{doc_id % 13}",
            "path": f"src/m{doc_id % 97}/{STEMS[doc_id % 40]}_{doc_id}.{ext}",
            "commit": f"{(doc_id * 2654435761) % (1 << 32):08x}",
            "lang": lang,
            "content": " ".join(words.tolist()),
            "doc_id": doc_id,
        })
    return rows


def query_pools(seed: int, rows: list[dict], n_or: int, n_expr: int) -> Pools:
    """``n_or`` matching OR queries and ``n_expr`` matching queries of every
    other class, then one zero-match query per class.

    or      ``hot band hot`` — a rare anchor plus hot context; the same
            pool feeds ``search``, ``search_pruned`` and ``search_batch``
    bool    ``hot AND band NOT band'`` — AND and NOT in one shape
    phrase  ``"a b"`` — two adjacent hot stems of a generated ``a_b``
    near    ``NEAR(a b, 5)`` — two hot stems at most 5 tokens apart in a
            generated document
    """
    rng = np.random.default_rng([seed, 7919])
    docs = [tokens(r["content"]) for r in rows]
    df = Counter(t for toks in docs for t in set(toks))
    n = len(rows)
    lo, hi = max(2, n // 100), max(3, n // 20)
    band = sorted(t for t, c in df.items() if lo <= c <= hi and not t.isalpha())
    hot = sorted(t for t in STEMS[:24] if df[t] > n // 2)
    if len(band) < n_or or len(hot) < 3:
        raise ValueError(
            f"corpus of {n} docs too small for the query shapes "
            f"({len(band)} band tokens, {len(hot)} hot stems)"
        )
    band_set = set(band)

    def pick(seq):
        return seq[int(rng.integers(0, len(seq)))]

    def pick_two(seq):
        i, j = rng.choice(len(seq), 2, replace=False)
        return seq[i], seq[j]

    hot_set = set(hot)

    def cut(kind: str) -> str:
        # draw documents until one holds the wanted pair of hot stems
        while True:
            toks = docs[int(rng.integers(0, n))]
            i = int(rng.integers(0, len(toks) - 6))
            if toks[i] not in hot_set:
                continue
            if kind == "phrase" and toks[i + 1] in hot_set and toks[i + 1] != toks[i]:
                return f'"{toks[i]} {toks[i + 1]}"'
            if kind == "near":
                near = [j for j in range(i + 2, i + 6)
                        if toks[j] in hot_set and toks[j] != toks[i]]
                if near:
                    return f"NEAR({toks[i]} {toks[pick(near)]}, 5)"

    queries = {
        "or": [f"{pick(hot)} {pick(band)} {pick(hot)}" for _ in range(n_or)],
        "bool": [f"{pick(hot)} AND {b} NOT {c}"
                 for b, c in (pick_two(band) for _ in range(n_expr))],
        "phrase": [cut("phrase") for _ in range(n_expr)],
        "near": [cut("near") for _ in range(n_expr)],
    }
    a, b = _ABSENT[seed % 4], _ABSENT[(seed + 1) % 4]
    queries["or"].append(f"{a} {b}")
    queries["bool"].append(f"{a} AND NOT {b}")
    queries["phrase"].append(f'"{a} {b}"')
    queries["near"].append(f"NEAR({a} {b}, 5)")
    return Pools({c: tuple(q) for c, q in queries.items()})
