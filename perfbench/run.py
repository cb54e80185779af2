"""Benchmark of the BM25 engine: index build, serving, Spark and ingest paths.

    python3 perfbench/run.py --workload hot --seed 1 --seconds 8 --trace 0

Prints, as the last line of standard output, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``. See
``perfbench/README.md`` for the workloads and what each metric means.
Runs from any working directory; everything it writes goes under
``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"
MAX_CPUS = 4

UNITS = {
    "setup_s": "s",
    "query_p50_ms": "ms",
    "queries_per_s": "queries/s",
    "driver_peak_rss_mb": "MB",
    "build_postings_per_s": "postings/s",
    "index_bytes_per_posting": "bytes",
    "py_worker_peak_rss_mb": "MB",
    "queryparse.parse_ms": "ms",
    "serve.term_meta_ms": "ms",
    "serve.open_ms": "ms",
    "codecs.decode_ms": "ms",
    "codecs.postings_decoded": "count",
    "serve.decode_miss_ratio": "ratio",
    "serve.search_self_ms": "ms",
    "serve.query_p95_ms": "ms",
    "tokenizer.postings_per_s": "postings/s",
    "segments.postings_raw_s": "s",
    "segments.segments_s": "s",
    "segments.terms_s": "s",
    "segments.upsert_jobs": "count",
    "segments.index_files": "count",
    "segment_search.jobs_per_query": "count",
    "segment_search.stages_per_query": "count",
    "batch.stages": "count",
    "batch.tasks": "count",
    "percolate.stages": "count",
    "spark.shuffle_mb": "MB",
    "spark.batch_queries_per_s": "queries/s",
    "spark.phrase_batch_queries_per_s": "queries/s",
    "spark.query_p50_ms": "ms",
    "spark.percolate_docs_per_s": "docs/s",
    "ingest.upsert_p50_s": "s",
    "ingest.compact_s": "s",
    "ingest.query_p50_ms": "ms",
    "trace.query_p50_ms": "ms",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["hot", "cold"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def prepare_env(work: str, cpus: int) -> None:
    """Make the engine importable in the driver and in every Python
    worker, and keep Spark's and Python's scratch files in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["FUGU_SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path[:0] = [ROOT, HERE]


def start_spark(work: str, cpus: int):
    from fugu_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def stop_spark(spark, jvm, worker_pids: set[int]) -> None:
    """Stop the session, end the JVM and wait for the Python workers."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
        if jvm is not None:
            jvm.stdin.close()
            try:
                jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        deadline = time.monotonic() + 15
        alive = set(worker_pids)
        while alive and time.monotonic() < deadline:
            alive = {p for p in alive if os.path.exists(f"/proc/{p}")}
            time.sleep(0.05)
        for p in alive:
            try:
                os.kill(p, 9)
            except OSError:
                pass


def steal_ticks() -> int:
    """Host steal time so far, in clock ticks (from /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "fugu_spark", "__init__.py")):
        print(f"perfbench: no fugu_spark package under {ROOT}", file=sys.stderr)
        return 2
    cpus = max(1, min(MAX_CPUS, os.cpu_count() or 1))
    steal0 = steal_ticks()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        prepare_env(work, cpus)
        import workloads
        from tracing import descendants

        t_start = time.perf_counter()
        spark = start_spark(work, cpus)
        from pyspark import SparkContext

        jvm = getattr(SparkContext._gateway, "proc", None)
        run = workloads.Run(spark, work, args.seed, args.seconds, bool(args.trace))
        if jvm is not None:
            run.jvm_pid = jvm.pid
        try:
            e2e, layers = workloads.run_workload(run, args.workload, t_start)
        finally:
            run.tracer.restore()
            workers = {p for p, _ in descendants(run.jvm_pid)}
            stop_spark(spark, jvm, workers)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(f"[perfbench] host steal during the run: {(steal_ticks() - steal0) / os.sysconf('SC_CLK_TCK'):.1f} cpu-s", file=sys.stderr)
    for p in run.problems:
        print(f"[perfbench] check failed: {p}", file=sys.stderr)
    metrics = layers if args.trace else e2e
    out = {
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": UNITS[k]} for k, v in sorted(metrics.items())},
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
