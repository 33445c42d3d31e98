"""The benchmark's workloads: one closed-loop client, timed from outside
sparkgrep's public API.

``search``  the distributed tier. The index is read from parquet (never
            ``warm()``ed), so every query pays its Spark jobs.
``serve``   the resident tier: ``LocalServer`` warmed in set-up on the whole
            query pool, so the working set fits its caches.

Both workloads answer the same four query classes over the same index
(two fields, ``path`` and ``content``, ``detail='full'``, code analyzer,
lucene idf): bag-of-words OR, boolean (AND, NOT), phrase and NEAR. Each
class is timed on its own; classes are never pooled.

The traced run of ``search`` also runs ``search_pruned`` and an 8-query
``search_batch`` on the OR pool, checks every class's zero-match query on
the distributed tier, and adds one LSM cycle on a single-field code index
(append, append, merge, delete, purge, compact, one OR query after each
step), so the write path's layers are measured.
"""

from __future__ import annotations

import importlib.util
import math
import os
import statistics
import time
from dataclasses import dataclass, field

import pandas as pd

from gen import CLASSES, corpus_rows, query_pools
from spans import Tracer

ANALYZER = "code"
IDF = "lucene"
N_BUCKETS = 8
K = 10
N_OR = 7  # the OR pool, plus its zero-match query, is the 8-query batch
N_EXPR = 3
N_SERVE = 1  # matching queries per class on serve: each costs a distributed reference
MIN_ROUNDS = 3  # search rounds per run at least: a round is ~7 s
FIELDS = ["path", "content"]


@dataclass
class Run:
    """One run's state: the client's counters and samples."""

    seed: int
    seconds: float
    docs: int
    tmp: str
    spark: object
    tracer: Tracer
    root: str
    trace_mode: bool = False  # a traced run (the tracer is toggled per round)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    lat: dict = field(default_factory=dict)  # class -> [seconds]
    lat_untraced: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)  # per-layer numbers
    setup: dict = field(default_factory=dict)
    cpus: list = field(default_factory=lambda: sorted(os.sched_getaffinity(0)))

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def rotate_cpu(self, r: int) -> None:
        """Put the client thread on its next CPU before round ``r``. On a VM
        whose virtual CPUs run at different, drifting speeds, a client left
        where the scheduler puts it inherits one CPU's speed for long
        stretches of a run; moving it every round spreads every run over all
        of them. Every round therefore starts on a cold cache, the same way
        in every run."""
        os.sched_setaffinity(0, {self.cpus[r % len(self.cpus)]})

    def release_cpu(self) -> None:
        os.sched_setaffinity(0, self.cpus)

    def sample(self, cls: str, seconds: float, traced: bool = True) -> None:
        (self.lat if traced else self.lat_untraced).setdefault(cls, []).append(seconds)

    def samples(self, cls: str) -> list[float]:
        """Every latency of a class, traced or not."""
        return self.lat.get(cls, []) + self.lat_untraced.get(cls, [])


def rows_of(df) -> list[tuple]:
    """(rank, doc_id, score) tuples of a Spark or pandas result."""
    if isinstance(df, pd.DataFrame):
        return [(int(r), int(d), float(s)) for r, d, s in
                zip(df["rank"], df["doc_id"], df["score"])]
    return [(int(r["rank"]), int(r["doc_id"]), float(r["score"])) for r in df]


def dir_bytes(path: str) -> int:
    """Bytes of the data and metadata files under ``path`` (checksums and
    markers excluded)."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            if not f.endswith(".crc") and f != "_SUCCESS":
                total += os.path.getsize(os.path.join(d, f))
    return total


def median_ms(xs) -> float:
    return statistics.median(xs) * 1e3


def tail(xs) -> tuple[int, float] | None:
    """Highest whole percentile with at least ten samples beyond it."""
    xs = sorted(xs)
    n = len(xs)
    # nearest-rank percentile p is xs[ceil(p*n/100) - 1]
    ok = [p for p in range(1, 100) if n - math.ceil(p * n / 100) >= 10]
    if not ok:
        return None
    return ok[-1], xs[math.ceil(ok[-1] * n / 100) - 1]


# ---- set-up -----------------------------------------------------------


def setup_common(run: Run):
    """Generate and index the corpus. Returns (rows, pools, corpus
    DataFrame, index dir)."""
    from sparkgrep.operators.index_build import build_index
    from sparkgrep.sources.corpus import with_ingest_columns

    tr = run.tracer
    t = time.perf_counter()
    rows = corpus_rows(run.seed, run.docs)
    pools = query_pools(run.seed, rows, N_OR, N_EXPR)
    run.setup["generate_s"] = time.perf_counter() - t

    # the build consumes the ingest columns lazily, as a user's build would;
    # the corpus layer is timed on its own in traced runs
    corpus = with_ingest_columns(run.spark.createDataFrame(pd.DataFrame(rows)))
    out = f"{run.tmp}/idx_full"
    t = time.perf_counter()
    with tr.span("build_index", "index_build"):
        build_index(corpus, out, analyzer=ANALYZER, fields=FIELDS,
                    detail="full", idf_variant=IDF, n_buckets=N_BUCKETS)
    run.setup["build_s"] = time.perf_counter() - t
    text_bytes = sum(len(r["path"].encode()) + len(r["content"].encode()) for r in rows)
    run.setup["index_bytes_per_input_byte"] = dir_bytes(out) / text_bytes
    return rows, pools, corpus, out


def open_index(run: Run, path: str, name: str = "open"):
    from sparkgrep.operators.query import InvertedIndex

    t = time.perf_counter()
    with run.tracer.span(name, "query"):
        ix = InvertedIndex(run.spark, path)
    run.layer[f"query.{name}_ms"] = (time.perf_counter() - t) * 1e3
    return ix


# ---- distributed calls --------------------------------------------------


def dist_query(run: Run, ix, cls: str, q: str) -> tuple[list, float]:
    """One distributed query; returns (rows, wall seconds)."""
    tr = run.tracer
    t0 = time.perf_counter()
    with tr.span(cls, "query"):
        with tr.span("plan", "query"):
            df = ix.search(q, K) if cls in ("or", "layered") else ix.search_expr(q, K)
        t1 = time.perf_counter()
        with tr.span("exec", "query"):
            rows = df.collect()
    t2 = time.perf_counter()
    if tr.enabled:
        run.layer.setdefault(f"query.{cls}.plan_ms", []).append((t1 - t0) * 1e3)
        run.layer.setdefault(f"query.{cls}.exec_ms", []).append((t2 - t1) * 1e3)
    return rows_of(rows), t2 - t0


def batch_query(run: Run, ix, queries) -> tuple[dict, float]:
    tr = run.tracer
    t0 = time.perf_counter()
    with tr.span("batch", "query"):
        with tr.span("plan", "query"):
            df = ix.search_batch([(str(i), q, K) for i, q in enumerate(queries)])
        t1 = time.perf_counter()
        with tr.span("exec", "query"):
            rows = df.collect()
    t2 = time.perf_counter()
    if tr.enabled:
        run.layer.setdefault("query.batch.plan_ms", []).append((t1 - t0) * 1e3)
        run.layer.setdefault("query.batch.exec_ms", []).append((t2 - t1) * 1e3)
    per_q: dict[int, list] = {i: [] for i in range(len(queries))}
    for r in sorted(rows, key=lambda r: (int(r["query_id"]), r["rank"])):
        per_q[int(r["query_id"])].append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"])))
    return per_q, t2 - t0


def pruned_query(run: Run, ix, q: str) -> tuple[list, float]:
    from sparkgrep.functions.tokenizer import tokenize_py
    from sparkgrep.operators import wand

    tr = run.tracer
    if tr.enabled:
        terms = sorted(set(tokenize_py(q, ANALYZER)))
        t = time.perf_counter()
        with tr.span("plan_pruned", "wand"):
            plan = wand.plan_pruned(ix, terms, K)
        run.layer.setdefault("wand.plan_ms", []).append((time.perf_counter() - t) * 1e3)
        run.layer.setdefault("wand.planned", []).append(plan is not None)
    t0 = time.perf_counter()
    with tr.span("pruned", "wand"):
        rows = wand.search_pruned(ix, q, K).collect()
    return rows_of(rows), time.perf_counter() - t0


def stage_stats(run: Run, cls: str) -> None:
    """Per-query medians of the Spark work of a traced class."""
    spans = run.tracer.named(cls)
    if not spans:
        return
    inc = [run.tracer.inclusive(s) for s in spans]
    for key, out in (("jobs", "jobs"), ("tasks", "tasks"),
                     ("input_bytes", "input_bytes"),
                     ("executor_cpu_ms", "executor_cpu_ms")):
        run.layer[f"{'wand' if cls == 'pruned' else 'query.' + cls}.{out}"] = \
            statistics.median(i[key] for i in inc)


# ---- workloads -----------------------------------------------------------


def run_search(run: Run) -> None:
    t_setup = time.perf_counter()
    rows, pools, corpus, path = setup_common(run)
    ix = open_index(run, path)
    # warm-up: the first call of every timed kind, on the pools' second
    # queries; the answers become references like every later one
    ref: dict[str, list] = {}
    orq = pools.queries["or"]
    with run.tracer.switched(False):
        for cls in CLASSES:
            q = pools.queries[cls][1]
            ref[q], _ = dist_query(run, ix, cls, q)
        if run.trace_mode:
            pruned_query(run, ix, orq[1])
            batch_query(run, ix, orq)
    run.setup["setup_s"] = time.perf_counter() - t_setup + run.setup["session_s"]

    def agree(cls: str, q: str, got: list, what: str) -> None:
        """The first answer to a query is its reference; every later answer,
        from any entry point, must equal it bitwise."""
        check_zero(run, cls, q, got, pools)
        if q in ref:
            run.check(got == ref[q], f"{what}({q!r}) differs from search")
        else:
            ref[q] = got

    t0 = time.perf_counter()
    r = 0
    while r < MIN_ROUNDS or time.perf_counter() - t0 < run.seconds:
        traced = run.trace_mode and r % 2 == 0
        run.rotate_cpu(r)
        with run.tracer.switched(traced):
            q = orq[r % N_OR]
            run.attempted += 1
            got, s = dist_query(run, ix, "or", q)
            run.sample("or", s, traced)
            agree("or", q, got, "search")

            for cls in CLASSES[1:]:
                eq = pools.queries[cls][r % N_EXPR]
                run.attempted += 1
                got, s = dist_query(run, ix, cls, eq)
                run.sample(cls, s, traced)
                agree(cls, eq, got, "search_expr")

            if run.trace_mode:  # per-layer classes
                run.attempted += 1
                got, s = pruned_query(run, ix, q)
                run.sample("pruned", s, traced)
                agree("or", q, got, "search_pruned")

                run.attempted += 1
                per_q, s = batch_query(run, ix, orq)
                run.sample("batch", s, traced)
                for i, bq in enumerate(orq):
                    agree("or", bq, per_q[i], "search_batch")
        r += 1
    run.release_cpu()
    run.layer["rounds"] = r
    oracle_check(run, rows, orq[0], ref[orq[0]])

    if run.trace_mode:
        with run.tracer.switched(False):  # the zero-match queries, checked untimed
            for cls in CLASSES:
                run.attempted += 1
                zq = pools.zero(cls)
                agree(cls, zq, dist_query(run, ix, cls, zq)[0], "search")
        for cls in ("or", "pruned", "batch") + CLASSES[1:]:
            stage_stats(run, cls)
        planned = run.layer.pop("wand.planned")
        run.layer["wand.pruned_share"] = sum(planned) / len(planned)
        exact = [run.tracer.inclusive(s)["input_bytes"] for s in run.tracer.named("or")]
        pruned = [run.tracer.inclusive(s)["input_bytes"] for s in run.tracer.named("pruned")]
        run.layer["wand.input_bytes_vs_exact"] = sum(pruned) / max(1, sum(exact))
        run.layer["wand.p50_ms"] = median_ms(run.lat["pruned"])
        run.layer["query.batch.qps"] = len(orq) / statistics.median(run.lat["batch"])
        lsm_cycle(run, corpus, pools)


def serve_pool(pools, cls: str) -> tuple[str, ...]:
    """The first N_SERVE matching queries of a class, then its zero-match one."""
    return pools.queries[cls][:N_SERVE] + (pools.zero(cls),)


def run_serve(run: Run) -> None:
    from sparkgrep.operators.serve import LocalServer

    t_setup = time.perf_counter()
    rows, pools, corpus, path = setup_common(run)
    ix = open_index(run, path)
    every = [q for cls in CLASSES for q in serve_pool(pools, cls)]
    t = time.perf_counter()
    with run.tracer.span("warm", "serve"):
        srv = LocalServer(ix).warm(every)
    run.layer["serve.warm_s"] = time.perf_counter() - t
    run.setup["setup_s"] = time.perf_counter() - t_setup + run.setup["session_s"]

    # the distributed answers every resident answer must equal (untimed)
    ref = {}
    for cls in CLASSES:
        for q in serve_pool(pools, cls)[:-1]:
            ref[q], _ = dist_query(run, ix, cls, q)
        ref[pools.zero(cls)] = []
    if run.trace_mode:
        for cls in CLASSES:
            stage_stats(run, cls)

    tr = run.tracer
    t0 = time.perf_counter()
    i = 0
    while i < len(CLASSES) or time.perf_counter() - t0 < run.seconds:
        cls = CLASSES[i % len(CLASSES)]
        pool = serve_pool(pools, cls)
        rnd = i // len(CLASSES)
        q = pool[rnd % len(pool)]
        # traced runs alternate blocks of rounds that cover the whole pool
        traced = run.trace_mode and (rnd // len(pool)) % 2 == 0
        if i % len(CLASSES) == 0:
            run.rotate_cpu(rnd)
        with run.tracer.switched(traced):
            run.attempted += 1
            t = time.perf_counter()
            with tr.span(f"serve_{cls}", "serve"):
                got = srv.search(q, K) if cls == "or" else srv.search_expr(q, K)
            s = time.perf_counter() - t
        got = rows_of(got)
        if q != pools.zero(cls):  # zero-match queries are checked, not timed
            run.sample(cls, s, traced)
        run.check(got == ref[q], f"LocalServer answer to {q!r} != distributed")
        check_zero(run, cls, q, got, pools)
        i += 1
    run.release_cpu()
    run.layer["rounds"] = i // len(CLASSES)
    if run.trace_mode:
        jobs_all = []
        for cls in CLASSES:
            jobs = [s.spark["jobs"] for s in tr.named(f"serve_{cls}")]
            jobs_all += jobs
            run.layer[f"serve.{cls}.ms"] = median_ms(run.lat[cls])
            run.layer[f"serve.{cls}.jobs"] = statistics.median(jobs)
        run.layer["serve.resident_ratio"] = sum(j == 0 for j in jobs_all) / len(jobs_all)


def check_zero(run: Run, cls: str, q: str, got: list, pools) -> None:
    if q == pools.zero(cls):
        run.check(got == [], f"zero-match {cls} query {q!r} returned rows")
    else:
        run.check(bool(got), f"{cls} query {q!r}, cut from the corpus, matched nothing")


def oracle_check(run: Run, rows, q: str, got: list) -> None:
    """One OR query against the pandas BM25 oracle in tests/oracle.py:
    doc_ids exact, scores to 1e-9. A two-field OR query scores the fields'
    summed streams, i.e. the concatenated text."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle", os.path.join(run.root, "tests", "oracle.py"))
    oracle = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oracle)
    docs = pd.DataFrame({
        "doc_id": [r["doc_id"] for r in rows],
        "content": [r["path"] + " " + r["content"] for r in rows],
    })
    want = oracle.bm25_oracle(docs, q, K, analyzer=ANALYZER, idf_variant=IDF)
    run.attempted += 1
    ok = [d for _, d, _ in got] == [int(d) for d in want["doc_id"]] and all(
        abs(s - float(w)) <= 1e-9 for (_, _, s), w in zip(got, want["score"]))
    run.check(ok, f"search({q!r}) differs from the BM25 oracle")


# ---- the LSM cycle (traced search runs) ---------------------------------


def lsm_cycle(run: Run, corpus, pools) -> None:
    """build, append x2, merge, delete, purge, compact on a single-field
    code index. After each step the index is reopened, its document count
    checked against the generator's, and one OR query and the zero-match
    query answered; merge and compact must not change the answers."""
    from sparkgrep.operators.index_build import build_index
    from sparkgrep.plans import manifest, purge
    from sparkgrep.sources.corpus import with_ingest_columns

    tr, spark = run.tracer, run.spark
    path = f"{run.tmp}/idx_code"
    t = time.perf_counter()
    with tr.span("build_index_code", "index_build"):
        build_index(corpus, path, analyzer=ANALYZER, idf_variant=IDF, n_buckets=N_BUCKETS)
    run.layer["index_build.code_wall_s"] = time.perf_counter() - t

    n_batch = max(10, run.docs // 10)
    batches = [corpus_rows(run.seed, n_batch, first_id=run.docs + j * n_batch)
               for j in range(2)]
    frames = [with_ingest_columns(spark.createDataFrame(pd.DataFrame(b))).cache()
              for b in batches]
    appended_bytes = sum(len(r["content"].encode()) for b in batches for r in b)
    qs = (pools.queries["or"][0], pools.zero("or"))
    expect_n = run.docs

    def step(name, layer, fn):
        run.attempted += 1
        with tr.span(name, layer):
            return fn()

    def answers():
        ix = open_index(run, path, "open_layered")
        run.check(ix.meta.n_docs == expect_n,
                  f"index holds {ix.meta.n_docs} docs, generator says {expect_n}")
        res = []
        for q in qs:
            run.attempted += 1
            got, s = dist_query(run, ix, "layered", q)
            if q != pools.zero("or"):
                run.sample("layered", s)
            check_zero(run, "or", q, got, pools)
            res.append(got)
        return res

    for j, f in enumerate(frames):
        step("append", "manifest", lambda: manifest.append_batch_delta(
            f, path, f"b{j}", analyzer=ANALYZER))
        expect_n += n_batch
        before = answers()
    step("merge", "manifest", lambda: manifest.merge_delta_layers(spark, path))
    run.check(answers() == before, "merge_delta_layers changed query results")
    step("delete", "manifest", lambda: manifest.delete_batch_delta(frames[0], path, "d0"))
    expect_n -= n_batch
    stats = step("purge", "purge", lambda: purge.purge_deleted(spark, path))
    before = answers()
    step("compact", "manifest", lambda: manifest.compact_index(spark, path))
    run.check(answers() == before, "compact_index changed query results")

    written = 0
    for name, layer in (("append", "manifest"), ("merge", "manifest"),
                        ("delete", "manifest"), ("compact", "manifest"),
                        ("purge", "purge")):
        spans = tr.named(name)
        inc = [tr.inclusive(s) for s in spans]
        written += sum(i["output_bytes"] for i in inc)
        prefix = f"{layer}.{name}" if layer == "manifest" else "purge"
        run.layer[f"{prefix}.s"] = statistics.median(s.seconds for s in spans)
        run.layer[f"{prefix}.jobs"] = statistics.median(i["jobs"] for i in inc)
        run.layer[f"{prefix}.executor_cpu_s"] = statistics.median(
            i["executor_cpu_ms"] for i in inc) / 1e3
        run.layer[f"{prefix}.bytes_written"] = statistics.median(i["output_bytes"] for i in inc)
    run.layer["manifest.write_amp"] = written / appended_bytes
    run.layer["purge.postings_files_rewritten"] = stats["postings_files_rewritten"]
    run.layer["purge.doc_lens_files_rewritten"] = stats["doc_lens_files_rewritten"]
    stage_stats(run, "layered")
    for f in frames:
        f.unpersist()


WORKLOADS = {"search": run_search, "serve": run_serve}
