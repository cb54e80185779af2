"""Deterministic synthetic source-code corpus (FIXTURES.md §1).

Generates the engine's primary input shape per BASELINE.json
``input_hint``: an Iceberg-style table ``(repo, path, commit, lang,
content, content_sha256)`` — one row per file version. Everything is a
pure function of (seed, row index) via counter-based splitmix64 hashing,
so the output is IDENTICAL regardless of partition count or executor
placement (a requirement for checkpoint/resume determinism and for the
N-vs-4N scaling runs to see byte-identical input).

Content is 50-2000 whitespace-separated tokens drawn Zipf(s=1.1) from a
5,000-term vocabulary of code-like identifiers covering every tokenizer
branch (SURVEY.md §2.3): plain words, dotted, underscored, mixed alnum,
integers, >40-char monsters, punctuation runs, Unicode words. Repo
assignment is Zipf(s=1.2) over 97 repos so a few repos are hot (skew).
Every 10th row is a second version of the previous row's file (same
repo/path, new commit, perturbed content) to exercise upsert/dedup.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SEED = 42
N_REPOS = 97
VOCAB_SIZE = 5000
LANGS = ["py", "rs", "go", "js", "java", "c"]
LANG_CDF = np.cumsum([0.3, 0.2, 0.15, 0.15, 0.1, 0.1])
DIR_VOCAB = ["src", "db", "core", "server", "utils", "index", "query", "tests", "api", "net"]

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
        T.StructField("content_sha256", T.StringType(), False),
    ]
)

_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain constant set)."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & _MASK
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _MASK
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _MASK
    return x ^ (x >> np.uint64(31))


def _hash_u64(i: np.ndarray, tag: int) -> np.ndarray:
    return _splitmix64(i.astype(np.uint64) ^ _splitmix64(np.uint64(SEED * 1315423911 + tag)))


def _uniform(i: np.ndarray, tag: int) -> np.ndarray:
    return _hash_u64(i, tag).astype(np.float64) / 18446744073709551616.0


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), s)
    c = np.cumsum(w)
    return c / c[-1]


def build_vocab() -> list[str]:
    """5,000 deterministic code-like identifiers hitting every tokenizer branch."""
    base = [
        "merge", "join", "scan", "filter", "sort", "index", "query", "term",
        "posting", "segment", "shard", "batch", "stream", "hash", "tree",
        "node", "block", "cache", "buffer", "token", "score", "rank", "fetch",
        "write", "read", "commit", "flush", "split", "range", "limit",
    ]
    vocab: list[str] = []
    i = 0
    while len(vocab) < VOCAB_SIZE - 8:
        a = base[i % len(base)]
        b = base[(i * 7 + 3) % len(base)]
        k = i % 5
        if k == 0:
            vocab.append(f"{a}{i % 100}")  # mixed alnum: merge42
        elif k == 1:
            vocab.append(f"{a}_{b}")  # underscored: merge_join
        elif k == 2:
            vocab.append(f"{a}.{b}")  # dotted: merge.join
        elif k == 3:
            vocab.append(str(1000 + i))  # integer
        else:
            vocab.append(a if i % 10 else a.capitalize())  # plain / mixed case
        i += 1
    # tokenizer edge cases (SURVEY.md §2.3 quirks)
    vocab += [
        "x" * 45,  # >40-byte monster → dropped by RemoveLongFilter
        "y" * 39,  # exactly under the limit → kept
        "==!=>=",  # punctuation run → no tokens (tantivy) / dropped (standard)
        "Ünïcode",  # Unicode word
        "Wörds",
        "UTF8", "sha256", "foo_bar",
    ]
    return vocab[:VOCAB_SIZE]


def generate_batch(indices: np.ndarray) -> pd.DataFrame:
    """Rows for global indices (pure function of index — order/partition free)."""
    vocab = np.array(build_vocab(), dtype=object)
    zipf_vocab = _zipf_cdf(VOCAB_SIZE, 1.1)
    zipf_repo = _zipf_cdf(N_REPOS, 1.2)

    idx = indices.astype(np.uint64)
    is_v2 = (indices % 10) == 9
    file_idx = np.where(is_v2, indices - 1, indices).astype(np.uint64)

    repo_j = np.searchsorted(zipf_repo, _uniform(file_idx, 1))
    repos = np.array([f"org{j % 7}/repo{j}" for j in repo_j], dtype=object)
    lang_j = np.searchsorted(LANG_CDF, _uniform(file_idx, 2))
    langs = np.array([LANGS[min(j, len(LANGS) - 1)] for j in lang_j], dtype=object)

    depth = (_hash_u64(file_idx, 3) % np.uint64(4)).astype(int) + 1
    d_choice = _hash_u64(file_idx, 4) % np.uint64(len(DIR_VOCAB))
    paths = np.array(
        [
            "/".join(DIR_VOCAB[int(d) : int(d) + int(dep)] or ["src"])
            + f"/file_{int(f)}.{lg}"
            for d, dep, f, lg in zip(d_choice, depth, file_idx, langs)
        ],
        dtype=object,
    )

    n_tok = (_hash_u64(idx, 5) % np.uint64(1951)).astype(np.int64) + 50  # 50..2000
    offsets = np.concatenate([[0], np.cumsum(n_tok)])
    total = int(offsets[-1])
    flat_doc = np.repeat(idx, n_tok)
    tok_ordinal = np.arange(total, dtype=np.uint64) - np.repeat(
        offsets[:-1].astype(np.uint64), n_tok
    )
    tok_hash = _splitmix64(_hash_u64(flat_doc, 6) + tok_ordinal)
    tok_idx = np.searchsorted(zipf_vocab, tok_hash.astype(np.float64) / 18446744073709551616.0)
    words = vocab[np.minimum(tok_idx, VOCAB_SIZE - 1)]

    contents = []
    for k in range(len(indices)):
        contents.append(" ".join(words[offsets[k] : offsets[k + 1]]))
    version = np.where(is_v2, 2, 1)
    commits = [
        hashlib.sha1(f"{r}:{p}:{v}".encode()).hexdigest()
        for r, p, v in zip(repos, paths, version)
    ]
    shas = [hashlib.sha256(c.encode()).hexdigest() for c in contents]
    return pd.DataFrame(
        {
            "repo": repos,
            "path": paths,
            "commit": commits,
            "lang": langs,
            "content": contents,
            "content_sha256": shas,
        }
    )


def generate_corpus(
    spark: SparkSession, n_rows: int, n_partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic generation: spark.range → mapInPandas."""
    n_partitions = n_partitions or spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield generate_batch(pdf["id"].to_numpy())

    return spark.range(0, n_rows, numPartitions=n_partitions).mapInPandas(
        gen, schema=CORPUS_SCHEMA
    )
