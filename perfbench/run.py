"""sparkgrep's benchmark of record.

    python3 perfbench/run.py --workload search|serve --seed N --seconds S --trace 0|1

Run from the root of a checkout. It starts a ``local[N]`` Spark session
(N = min(4, cores)) whose Python workers import the checked-out
``sparkgrep``, generates its inputs from ``--seed``, sets up, then runs one
closed-loop client for ``--seconds`` and checks every answer.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``; the names are in
BENCHMARK.json). The line before it records the host (cores, load before
and after), the Spark conf and the raw set-up and latency figures. A traced
run also writes its spans to ``.perfbench_out/``. The exit code is 0 when
every check passed, 1 when one failed and 2 when the run could not start.

All scratch (indexes, ``spark.local.dir``, JVM and Python temp files) goes
under ``.perfbench_tmp/`` in the checkout and is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pandas as pd

from gen import CLASSES, corpus_rows, query_pools
from spans import Tracer
from workloads import ANALYZER, FIELDS, N_EXPR, N_OR, WORKLOADS, Run, tail

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "index_bytes_per_input_byte": "ratio",
    "or_p50_ms": "ms",
    "bool_p50_ms": "ms",
    "phrase_p50_ms": "ms",
    "near_p50_ms": "ms",
}

LAYERS = ("session", "corpus", "tokenizer", "querylang", "index_build",
          "query", "wand", "serve", "manifest", "purge")
_SPARK_KEYS = {"jobs": "count", "tasks": "count", "input_bytes": "bytes",
               "executor_cpu_ms": "ms"}
PER_LAYER = {
    "session.start_s": "s",
    "corpus.ingest_docs_per_s": "docs/s",
    "tokenizer.docs_per_s": "docs/s",
    **{f"querylang.{c}.parse_ms": "ms" for c in CLASSES},
    "index_build.wall_s": "s",
    "index_build.jobs": "count",
    "index_build.tasks": "count",
    "index_build.executor_cpu_s": "s",
    "index_build.shuffle_write_bytes": "bytes",
    "index_build.output_bytes": "bytes",
    "index_build.code_wall_s": "s",
    "query.open_ms": "ms",
    "query.open_layered_ms": "ms",
    **{f"query.{c}.{k}": u
       for c in CLASSES + ("batch", "layered")
       for k, u in ({"plan_ms": "ms", "exec_ms": "ms"} | _SPARK_KEYS).items()},
    "query.batch.qps": "queries/s",
    "wand.plan_ms": "ms",
    "wand.p50_ms": "ms",
    **{f"wand.{k}": u for k, u in _SPARK_KEYS.items()},
    "wand.pruned_share": "ratio",
    "wand.input_bytes_vs_exact": "ratio",
    "serve.warm_s": "s",
    **{f"serve.{c}.{k}": u for c in CLASSES
       for k, u in (("ms", "ms"), ("jobs", "count"))},
    "serve.resident_ratio": "ratio",
    **{f"manifest.{op}.{k}": u for op in ("append", "merge", "delete", "compact")
       for k, u in (("s", "s"), ("jobs", "count"), ("executor_cpu_s", "s"),
                    ("bytes_written", "bytes"))},
    "manifest.write_amp": "ratio",
    "purge.s": "s",
    "purge.jobs": "count",
    "purge.executor_cpu_s": "s",
    "purge.bytes_written": "bytes",
    "purge.postings_files_rewritten": "count",
    "purge.doc_lens_files_rewritten": "count",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    **{f"trace.{c}.overhead_ms": "ms" for c in CLASSES},
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("search", "serve"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=1000,
                   help="corpus size (the self-test runs a tiny one)")
    return p.parse_args(argv)


def isolate(tmp: str) -> None:
    """Point every scratch location of this process, its JVM and its Python
    workers under ``tmp``, and make the workers import this checkout."""
    for d in ("local", "jvm", "py"):
        os.makedirs(f"{tmp}/{d}", exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = f"{tmp}/py"
    os.environ["SPARKGREP_LOCAL_DIR"] = f"{tmp}/local"
    os.environ.setdefault("SPARKGREP_DRIVER_MEM", "2g")
    # both JVMs (spark-submit's launcher and Spark's own) would otherwise
    # write hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={tmp}/jvm -Dderby.system.home={tmp}/jvm"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={tmp}/warehouse"),
        "--conf", shlex.quote(f"spark.hadoop.hadoop.tmp.dir={tmp}/hadoop"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    sys.path.insert(0, ROOT)


def start_spark():
    from sparkgrep.session import get_spark

    cores = min(4, len(os.sched_getaffinity(0)))
    t = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t


def stop_spark(spark) -> None:
    """Stop the context, then the JVM it was launched in, and wait for it."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def layer_probes(run) -> None:
    """Layers that run in this process, timed on fixed inputs (traced runs only)."""
    from sparkgrep.functions.querylang import parse_query
    from sparkgrep.functions.tokenizer import tokenize_series
    from sparkgrep.sources.corpus import with_ingest_columns

    rows = corpus_rows(run.seed, run.docs)
    reps = []
    for _ in range(3):
        t = time.perf_counter()
        with run.tracer.span("with_ingest_columns", "corpus"):
            with_ingest_columns(run.spark.createDataFrame(pd.DataFrame(rows))).count()
        reps.append(time.perf_counter() - t)
    run.layer["corpus.ingest_docs_per_s"] = len(rows) / statistics.median(reps)
    texts = pd.Series([r["content"] for r in rows[:500]])
    reps = []
    for _ in range(3):
        t = time.perf_counter()
        with run.tracer.span("tokenize_series", "tokenizer"):
            tokenize_series(texts, ANALYZER)
        reps.append(time.perf_counter() - t)
    run.layer["tokenizer.docs_per_s"] = len(texts) / statistics.median(reps)
    pools = query_pools(run.seed, rows, N_OR, N_EXPR)
    for c in CLASSES:
        qs = pools.queries[c]
        reps = []
        for _ in range(50):
            t = time.perf_counter()
            with run.tracer.span("parse_query", "querylang"):
                for q in qs:
                    parse_query(q, ANALYZER, fields=tuple(FIELDS))
            reps.append((time.perf_counter() - t) / len(qs))
        run.layer[f"querylang.{c}.parse_ms"] = statistics.median(reps) * 1e3


def per_layer_metrics(run) -> dict:
    tr = run.tracer
    m = {k: statistics.median(v) if isinstance(v, list) else v
         for k, v in run.layer.items()}
    m["session.start_s"] = run.setup["session_s"]
    build = tr.named("build_index")[0]
    inc = tr.inclusive(build)
    m["index_build.wall_s"] = build.seconds
    m["index_build.jobs"] = inc["jobs"]
    m["index_build.tasks"] = inc["tasks"]
    m["index_build.executor_cpu_s"] = inc["executor_cpu_ms"] / 1e3
    m["index_build.shuffle_write_bytes"] = inc["shuffle_write_bytes"]
    m["index_build.output_bytes"] = inc["output_bytes"]
    for layer, s in tr.self_seconds_by_layer().items():
        m[f"{layer}.self_s"] = s
    m["session.self_s"] = run.setup["session_s"]
    for c in CLASSES:
        if run.lat.get(c) and run.lat_untraced.get(c):
            m[f"trace.{c}.overhead_ms"] = (
                statistics.median(run.lat[c]) - statistics.median(run.lat_untraced[c])) * 1e3
    # a layer the workload bypasses did no work: report it as 0
    return {k: {"value": float(m.get(k, 0)), "unit": u} for k, u in PER_LAYER.items()}


def end_to_end_metrics(run) -> dict:
    values = {
        "setup_s": run.setup["setup_s"],
        "build_docs_per_s": run.docs / run.setup["build_s"],
        "index_bytes_per_input_byte": run.setup["index_bytes_per_input_byte"],
        **{f"{c}_p50_ms": statistics.median(run.samples(c)) * 1e3
           for c in CLASSES},
    }
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sparkgrep", "__init__.py")):
        print("perfbench: no sparkgrep/ package beside perfbench/; run it from "
              "the root of a sparkgrep checkout", file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and deletes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    load_before = os.getloadavg()
    isolate(tmp)
    spark = None
    try:
        spark, session_s = start_spark()
        run = Run(args.seed, args.seconds, args.docs, tmp=tmp,
                  spark=spark, tracer=Tracer(spark, bool(args.trace)), root=ROOT,
                  trace_mode=bool(args.trace))
        run.setup["session_s"] = session_s
        WORKLOADS[args.workload](run)
        if args.trace:
            layer_probes(run)
            metrics = per_layer_metrics(run)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            run.tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
        else:
            metrics = end_to_end_metrics(run)
        conf = dict(spark.sparkContext.getConf().getAll())
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    for e in run.errors[:20]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    classes = sorted(run.lat.keys() | run.lat_untraced.keys())
    print(json.dumps({"perfbench_env": {
        "workload": args.workload, "seed": args.seed, "docs": args.docs,
        "nproc": os.cpu_count(), "cores_used": len(os.sched_getaffinity(0)),
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "spark_conf": {k: v for k, v in sorted(conf.items())
                       if k.startswith(("spark.sql", "spark.master", "spark.driver.memory",
                                        "spark.local.dir"))},
        "setup": run.setup, "rounds": run.layer.get("rounds"),
        "samples": {c: len(run.samples(c)) for c in classes},
        "latency_ms": {c: [round(x * 1e3, 3) for x in run.samples(c)] for c in classes},
        "or_tail": tail(run.samples("or")),
    }}))
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted,
        "failed": run.failed, "metrics": metrics,
    }))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
