"""One pipeline, run as the ``hot`` or the ``cold`` workload.

Every run builds an index over the seeded corpus and serves a
closed-loop query stream from a ``LocalSearcher`` for ``--seconds``. A
traced run then adds the Spark paths (one ``batch_search_segments`` job,
a phrase batch, per-query ``search_segments`` jobs, one ``percolate``
pass) and the ingest path (upsert rounds and a ``compact``). The two
workloads differ only in their queries and in the postings LRU (see
``inputs.Queries``).

:func:`run_workload` returns ``(end_to_end, per_layer)`` metric dicts of
plain floats. Correctness problems go to ``run.problems``; an operation
that raises is counted in ``run.failed`` and the run goes on.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd

import inputs
import oracle
from tracing import SparkOps, Tracer, WorkerRss, install_serve_trace, self_peak_rss_mb

K = 10
FILES = 400
WARM_FILES = 40  # files of the untimed worker warm-up
SERVE_STREAM = 6000  # queries generated; the closed loop cycles through them
BATCH_QUERIES = 80
PHRASE_QUERIES = 3
SPARK_QUERIES = 3
STANDING_QUERIES = 40
UPSERT_ROUNDS = 2  # traced runs only
UPSERT_NEW = 6  # new files per round
UPSERT_REPLACED = 6  # replaced versions of existing files per round
BURST = 40  # queries after each upsert, on a fresh searcher
PRIME_WIDTH = 50  # terms per priming query
ORACLE_SAMPLE = 40  # simple queries checked against DuckDB per index
ALL = 1 << 40  # k that returns the full match set
CORPUS_SCHEMA = "repo string, path string, commit string, lang string, content string"


class Run:
    """One benchmark run: Spark session, work directory and counters."""

    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.jvm_pid = os.getpid()
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.t0 = time.perf_counter()
        self.ops = SparkOps(spark) if trace else None
        self.spark_usage: list[dict] = []
        self.tracer = Tracer()
        if trace:
            install_serve_trace(self.tracer)

    def op(self, label: str, fn, *args, **kwargs):
        """Attempt one operation; → (result or None, wall seconds)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            print(f"[perfbench] {label} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return None, time.perf_counter() - t0
        return out, time.perf_counter() - t0

    def spark_op(self, label: str, fn):
        """A Spark-path operation, with job accounting in traced runs."""
        if self.ops is None:
            return self.op(label, fn)

        def counted():
            out, usage = self.ops.run(label, fn)
            usage["label"] = label
            self.spark_usage.append(usage)
            return out

        return self.op(label, counted)

    def log(self, what: str) -> None:
        """Phase timestamps on standard error, for reading a slow run."""
        print(f"[perfbench] {time.perf_counter() - self.t0:7.2f}s {what}", file=sys.stderr)

    def check(self, problems: list[str]) -> None:
        self.problems.extend(problems)

    def load(self, pdf: pd.DataFrame, name: str):
        """Corpus rows → Spark DataFrame with ``doc_id = xxhash64(repo,
        path, commit)``. The rows are written as one parquet file per
        core, so the frame has one read split per core."""
        from pyspark.sql import functions as F

        path = os.path.join(self.work, name)
        os.makedirs(path)
        n = self.spark.sparkContext.defaultParallelism
        for i, part in enumerate(np.array_split(np.arange(len(pdf)), n)):
            pdf.iloc[part].to_parquet(os.path.join(path, f"part-{i}.parquet"), index=False)
        df = self.spark.read.schema(CORPUS_SCHEMA).parquet(path)
        return df.withColumn("doc_id", F.xxhash64("repo", "path", "commit"))


def with_ids(df, pdf: pd.DataFrame) -> pd.DataFrame:
    """``pdf`` with the ``doc_id`` Spark computed for each of its rows in
    ``df`` (from :meth:`Run.load`), in ``pdf``'s row order."""
    ids = df.select("repo", "path", "commit", "doc_id").toPandas()
    return pdf.merge(ids, on=["repo", "path", "commit"], how="left", validate="one_to_one")


def _ms(seconds: float) -> float:
    return seconds * 1e3


def _p(values: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(values), q)) if values else 0.0


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _ids(df: pd.DataFrame) -> set[int]:
    return set(df["doc_id"].astype("int64"))


def index_stats(path: str) -> dict:
    with open(os.path.join(path, "stats.json")) as f:
        return json.load(f)


def stage_walls(path: str) -> dict:
    """The build's own stage walls, from its ``_stage_*.json`` markers."""
    out = {}
    for st in ("postings_raw", "segments", "terms"):
        with open(os.path.join(path, f"_stage_{st}.json")) as f:
            out[f"segments.{st}_s"] = float(json.load(f)["wall_sec"])
    return out


def parquet_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


# ------------------------------------------------------------- checks


def check_counts(run: Run, st: dict, duck: oracle.DuckBM25) -> None:
    """The build's own posting and token counts against DuckDB's."""
    if st["n_postings"] != duck.n_postings or st["total_tokens"] != duck.total_tokens:
        run.check([
            f"build counts postings={st['n_postings']} tokens={st['total_tokens']}, "
            f"independent count postings={duck.n_postings} tokens={duck.total_tokens}"
        ])


def check_oracle(run: Run, searcher, duck: oracle.DuckBM25, queries: list[str], what: str) -> None:
    """Serving-path top-k against DuckDB for up to ``ORACLE_SAMPLE`` of
    ``queries`` the oracle can score."""
    n = 0
    for q in queries:
        want = duck.search(q, K)
        if want is None:
            continue
        run.check(oracle.compare_topk(f"{what} {q!r}", searcher.search(q, k=K), want))
        n += 1
        if n == ORACLE_SAMPLE:
            break
    if n == 0:
        run.check([f"{what}: no query checked against DuckDB"])


def check_phrases(run: Run, hits: dict[str, pd.DataFrame], content: dict[int, str], what: str) -> None:
    """Every phrase hit holds the phrase as adjacent tokens."""
    for q, res in hits.items():
        terms = q.strip('"').split(" ")
        for d in res["doc_id"].tolist():
            if not oracle.has_phrase(content[int(d)], terms):
                run.check([f"{what}: {q} hit {d} lacks the phrase"])


def by_query(df: pd.DataFrame, qmap: dict[int, str]) -> dict[str, pd.DataFrame]:
    """Batch output → per-query frames in rank order."""
    groups = {int(k): v.sort_values("rank") for k, v in df.groupby("query_id")}
    return {q: groups.get(i, df.iloc[:0]) for i, q in qmap.items()}


# ------------------------------------------------------------- layers


def tokenizer_probe(texts: list[str]) -> float:
    """In-process ``tokenizer.postings_batch`` throughput, postings/s
    (median of three passes over the sample)."""
    from fugu_spark.tokenizer import postings_batch

    s = pd.Series(texts)
    rates = []
    for _ in range(3):
        t0 = time.perf_counter()
        n = len(postings_batch(s, "tantivy_default", True))
        rates.append(n / (time.perf_counter() - t0))
    return statistics.median(rates)


def serve_layers(before: tuple, after: tuple, n_queries: int, misses: int) -> dict:
    """Per-query serving-layer figures between two tracer snapshots."""
    (s0, _, n0), (s1, _, n1) = before, after
    d = {k: s1.get(k, 0.0) - s0.get(k, 0.0) for k in ("parse", "term_meta", "decode", "search")}
    n = max(1, n_queries)
    return {
        "queryparse.parse_ms": _ms(d["parse"]) / n,
        "serve.term_meta_ms": _ms(d["term_meta"]) / n,
        "codecs.decode_ms": _ms(d["decode"]) / n,
        "codecs.postings_decoded": (n1.get("decode", 0) - n0.get("decode", 0)) / n,
        "serve.decode_miss_ratio": misses / n,
        "serve.search_self_ms": _ms(d["search"] - d["parse"] - d["term_meta"] - d["decode"]) / n,
    }


def spark_layers(usage: list[dict]) -> dict:
    """Status-tracker figures per kind of Spark-path call."""

    def mean(prefix: str, key: str) -> float:
        rows = [u[key] for u in usage if u["label"].startswith(prefix)]
        return float(np.mean(rows)) if rows else 0.0

    return {
        "segments.upsert_jobs": mean("upsert", "jobs"),
        "segment_search.jobs_per_query": mean("search_segments", "jobs"),
        "segment_search.stages_per_query": mean("search_segments", "stages"),
        "batch.stages": mean("batch query", "stages"),
        "batch.tasks": mean("batch query", "tasks"),
        "percolate.stages": mean("percolate", "stages"),
        "spark.shuffle_mb": float(np.mean([u["shuffle_bytes"] for u in usage if u["label"] != "build"])) / 2**20,
    }


# ------------------------------------------------------------- serve


def prime(searcher, vocab: list[str], hot: bool) -> None:
    """Bring the searcher to its steady state before timing: every
    dictionary row memoized and, for ``hot``, every term's full posting
    list, with and without positions, in the LRU. Wide OR queries with a
    ``k`` past the match count decode whole lists, unpruned, so they are
    kept."""
    searcher.term_meta(vocab)
    if hot:
        for i in range(0, len(vocab), PRIME_WIDTH):
            terms = vocab[i : i + PRIME_WIDTH]
            searcher.search(" ".join(terms), k=ALL)
            searcher.search(" ".join(f'"{t} {t}"' for t in terms), k=ALL)


def serve_loop(run: Run, searcher, stream: list[tuple[str, str]]) -> dict:
    """Closed loop, one client: the next query is sent when the previous
    one has returned, for ``run.seconds``."""
    lat: list[float] = []
    misses = 0
    calls = run.tracer.calls
    before = run.tracer.snapshot()
    perf = time.perf_counter
    t0 = perf()
    end = t0 + run.seconds
    i = 0
    while perf() < end:
        d0 = calls.get("decode", 0)
        res, wall = run.op("query", searcher.search, stream[i % len(stream)][1], k=K)
        if res is not None:
            lat.append(wall)
        misses += calls.get("decode", 0) != d0
        i += 1
    elapsed = perf() - t0
    return {
        "n": i,
        "lat": lat,
        "qps": i / elapsed,
        "layers": serve_layers(before, run.tracer.snapshot(), i, misses),
    }


# ------------------------------------------------------------- ingest


def _upsert_batch(seed: int, live: pd.DataFrame, rnd: int) -> tuple[pd.DataFrame, str]:
    """New files plus replaced versions of files from the hot repo, all
    carrying this round's marker term."""
    marker = f"zzmark{rnd}q{seed % 1000}"
    new = inputs.make_corpus(seed, UPSERT_NEW, stream=100 + rnd)
    rng = np.random.default_rng([seed, 8, rnd])
    hot = live["repo"].value_counts().index[0]
    pool = live[live["repo"] == hot]
    take = rng.choice(len(pool), min(UPSERT_REPLACED, len(pool)), replace=False)
    replaced = inputs.new_versions(seed, pool.iloc[np.sort(take)], rnd + 2)
    return inputs.with_marker(pd.concat([new, replaced], ignore_index=True), marker), marker


def ingest_rounds(run: Run, si, corpus: pd.DataFrame, q: inputs.Queries) -> dict:
    """``UPSERT_ROUNDS`` × (upsert of new and replaced files, a fresh
    searcher, a query burst), then ``compact``; each generation is
    checked. Traced runs only: each upsert costs ~10 s of Spark jobs."""
    from fugu_spark.segments import compact, delete_doc_ids, upsert_segments
    from fugu_spark.serve import LocalSearcher

    live = corpus.copy()
    stream = q.serve(UPSERT_ROUNDS * BURST, stream=2)
    superseded: set[int] = set()
    upsert_s, open_s, lat = [], [], []
    searcher = None
    for rnd in range(UPSERT_ROUNDS):
        batch_pdf, marker = _upsert_batch(run.seed, live, rnd)
        batch = run.load(batch_pdf, f"batch{rnd}")
        batch_pdf = with_ids(batch, batch_pdf)
        old_ids = live.merge(batch_pdf[["repo", "path"]], on=["repo", "path"])["doc_id"].tolist()

        def upsert(si=si, batch=batch, old_ids=old_ids):
            dead = run.spark.createDataFrame([(int(i),) for i in old_ids], "doc_id long")
            si = delete_doc_ids(si, dead)
            return upsert_segments(si, batch, id_col="doc_id", text_col="content")

        new_si, wall = run.spark_op(f"upsert{rnd}", upsert)
        if new_si is None:
            continue
        si = new_si
        upsert_s.append(wall)
        superseded |= set(old_ids)
        live = pd.concat([live[~live["doc_id"].isin(old_ids)], batch_pdf[live.columns]], ignore_index=True)
        t0 = time.perf_counter()
        searcher = LocalSearcher(si.index_dir)
        open_s.append(time.perf_counter() - t0)
        results = {}
        for query in [s for _, s in stream[rnd * BURST : (rnd + 1) * BURST - 1]] + [marker]:
            res, wall = run.op("query", searcher.search, query, k=K)
            if res is not None:
                lat.append(wall)
                results[query] = res
        if _ids(searcher.search(marker, k=ALL)) != _ids(batch_pdf):
            run.check([f"upsert round {rnd}: the marker term does not find exactly the new files"])
        for query, res in results.items():
            if superseded & _ids(res):
                run.check([f"upsert round {rnd}: {query!r} returned a superseded version"])
    files = len(parquet_files(si.index_dir))
    sample = [s for _, s in stream]
    before = {s: _ids(searcher.search(s, k=ALL)) for s in sample} if searcher else {}
    compacted, compact_s = run.spark_op("compact", lambda: compact(si))
    if compacted is not None:
        after = LocalSearcher(compacted.index_dir)
        for s, ids in before.items():
            if _ids(after.search(s, k=ALL)) != ids:
                run.check([f"compact changed the match set of {s!r}"])
        # compact makes the statistics exact again: BM25 must equal
        # DuckDB's over the live files
        duck = oracle.DuckBM25(live)
        check_oracle(run, after, duck, sample, "after compact")
        duck.close()
    return {
        "ingest.upsert_p50_s": _median(upsert_s),
        "ingest.compact_s": compact_s,
        "ingest.query_p50_ms": _ms(_p(lat, 50)),
        "serve.open_ms": _ms(_median(open_s)),
        "segments.index_files": float(files),
    }


# ------------------------------------------------------------- workload


def spark_paths(run: Run, si, docs, q: inputs.Queries, searcher, content: dict[int, str]) -> dict:
    """The Spark jobs ``serve`` never touches: one batch over the batch
    set, one over the phrase set, per-query ``search_segments`` jobs and
    one ``percolate`` pass, each checked against the serving path."""
    from fugu_spark.batch import batch_search_segments
    from fugu_spark.percolate import compile_queries, percolate
    from fugu_spark.segment_search import search_segments

    bq, phrases = q.batch(BATCH_QUERIES), q.phrase_batch(PHRASE_QUERIES)
    standing_q = q.standing(STANDING_QUERIES)
    standing = compile_queries(standing_q)
    out: dict = {}
    rates: dict[str, float] = {}
    res, wall = run.spark_op("batch query", lambda: batch_search_segments(si, bq, k=K).toPandas())
    if res is not None:
        rates["batch"], out["batch"] = len(bq) / wall, res
    res, wall = run.spark_op("batch phrase", lambda: batch_search_segments(si, phrases, k=K).toPandas())
    if res is not None:
        rates["phrase"], out["phrase"] = len(phrases) / wall, res
    spark_lat = []
    for j in range(SPARK_QUERIES):
        res, wall = run.spark_op("search_segments", lambda j=j: search_segments(si, bq[j], k=K).toPandas())
        if res is not None:
            spark_lat.append(wall)
            out[("ss", j)] = res
    res, wall = run.spark_op(
        "percolate", lambda: percolate(docs, standing, id_col="doc_id", text_col="content").toPandas()
    )
    if res is not None:
        rates["percolate"], out["percolate"] = len(content) / wall, res

    ref = {s: searcher.search(s, k=K) for s in list(bq.values()) + list(phrases.values())}
    if "batch" in out:
        for s, res in by_query(out["batch"], bq).items():
            run.check(oracle.compare_topk(f"batch vs serve {s!r}", res, ref[s]))
    if "phrase" in out:
        ph = by_query(out["phrase"], phrases)
        for s, res in ph.items():
            run.check(oracle.compare_topk(f"phrase batch vs serve {s!r}", res, ref[s]))
        check_phrases(run, ph, content, "phrase batch")
    for j in range(SPARK_QUERIES):
        if ("ss", j) in out:
            run.check(oracle.compare_topk(f"search_segments vs serve {bq[j]!r}", out[("ss", j)], ref[bq[j]]))
    if "percolate" in out:
        got = out["percolate"].groupby("query_id")["doc_id"].apply(set).to_dict()
        for i, s in standing_q.items():
            if got.get(i, set()) != _ids(searcher.search(s, k=ALL)):
                run.check([f"percolate {s!r}: match set differs from serve's"])
    return {
        "spark.batch_queries_per_s": rates.get("batch", 0.0),
        "spark.phrase_batch_queries_per_s": rates.get("phrase", 0.0),
        "spark.query_p50_ms": _ms(_median(spark_lat)),
        "spark.percolate_docs_per_s": rates.get("percolate", 0.0),
    }


def run_workload(run: Run, name: str, t_start: float) -> tuple[dict, dict]:
    from fugu_spark.postings import build_postings
    from fugu_spark.segments import build_segments
    from fugu_spark.serve import LocalSearcher

    hot = name == "hot"
    pdf = inputs.make_corpus(run.seed, FILES)
    q = inputs.Queries(run.seed, pdf["content"].tolist(), hot)
    stream = q.serve(SERVE_STREAM)
    docs = run.load(pdf, "corpus")
    pdf = with_ids(docs, pdf)
    run.log("inputs ready")

    # start and import-warm one Python worker per core with the build's
    # tokenizer stage, so that the timed build does not pay for it
    warm = run.load(pdf.iloc[:WARM_FILES], "warm")
    build_postings(warm, id_col="doc_id", text_col="content", encode_positions=True).count()
    run.log("workers warm")
    rss = WorkerRss(run.jvm_pid).start()
    index = os.path.join(run.work, "index")
    si, build_s = run.spark_op(
        "build", lambda: build_segments(docs, index, id_col="doc_id", text_col="content", resume=False)
    )
    rss.stop()
    if si is None:
        raise RuntimeError("index build failed")
    stats = index_stats(index)
    # what serving reads: the segments and the term dictionary, not the
    # build's stage-1 checkpoint (postings_raw/)
    index_bytes = sum(
        os.path.getsize(p) for d in ("segments", "terms") for p in parquet_files(os.path.join(index, d))
    )
    run.log("index built")
    t0 = time.perf_counter()
    searcher = LocalSearcher(index, **({} if hot else {"cache_bytes": 0}))
    open_s = time.perf_counter() - t0
    prime(searcher, list(q.vocab), hot)
    setup_s = time.perf_counter() - t_start
    run.log("set-up done")

    served = serve_loop(run, searcher, stream)
    e2e = {
        "setup_s": setup_s,
        "query_p50_ms": _ms(_p(served["lat"], 50)),
        "queries_per_s": served["qps"],
        "driver_peak_rss_mb": self_peak_rss_mb(),
        "build_postings_per_s": stats["n_postings"] / build_s,
        "index_bytes_per_posting": index_bytes / stats["n_postings"],
        "py_worker_peak_rss_mb": rss.peak_mb,
    }
    run.log("serve loop done")

    # correctness, outside every timed region
    duck = oracle.DuckBM25(pdf)
    check_counts(run, stats, duck)
    check_oracle(run, searcher, duck, [s for _, s in stream[: served["n"]]], name)
    duck.close()
    content = dict(zip(pdf["doc_id"], pdf["content"]))
    served_phrases = [s for shape, s in stream[: served["n"]] if shape == "phrase"][:30]
    check_phrases(run, {s: searcher.search(s, k=K) for s in served_phrases}, content, "serve")
    run.log("checked")
    if not run.trace:
        return e2e, {}

    layers = {
        **served["layers"],
        "trace.query_p50_ms": e2e["query_p50_ms"],
        "serve.query_p95_ms": _ms(_p(served["lat"], 95)),
        "tokenizer.postings_per_s": tokenizer_probe(pdf["content"].tolist()[:300]),
        **stage_walls(index),
        "serve.open_ms": _ms(open_s),
        **spark_paths(run, si, docs, q, searcher, content),
    }
    run.log("spark paths done")
    layers.update(ingest_rounds(run, si, pdf, q))
    layers.update(spark_layers(run.spark_usage))
    run.log("ingest rounds done")
    return e2e, layers
