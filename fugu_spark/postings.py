"""Postings construction — the index-build dataflow (SURVEY.md §2.4 B1/B4/B5).

What Tantivy computes when fugu calls ``add_document``/``commit``
(/root/reference/src/db/document.rs:47-65), re-expressed as Spark jobs:

- ``build_postings``: corpus → ``(doc_id, term, tf, positions, doc_len)``.
  One ``mapInPandas`` pass; term frequencies are aggregated INSIDE the
  Arrow batch (vectorized pandas groupby), so the shuffle that follows
  moves one row per (doc, term) — not one per token occurrence. ``doc_len``
  (the exact fieldnorm, B4 — we store exact ints rather than Tantivy's
  lossy 1-byte norm, a documented divergence) is denormalized onto every
  posting row so BM25 needs no doc-side join at query time.
- ``term_stats``: term dictionary ``(term, df, cf)`` (B5).
- ``corpus_stats``: ``N`` (ALL docs, including token-less ones) and
  ``avgdl`` — the BM25 globals.

Scale notes: the postings build is embarrassingly parallel (no shuffle);
``term_stats`` is one partial-aggregated groupBy on ``term`` (map-side
combine keeps the shuffle at ~|vocab| rows per partition). Hot-term skew
matters only for segment layout, handled in :mod:`fugu_spark.segments`.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tokenizer import DEFAULT_MODE, postings_batch

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("positions", T.ArrayType(T.IntegerType()), False),
        T.StructField("doc_len", T.IntegerType(), False),
    ]
)

# Segment-build variant: positions pre-encoded per posting as varint(delta)
# bytes — ~4x smaller through shuffle/checkpoint, concatenates bit-identical
# to whole-list encoding because the delta stream resets at posting starts.
POSTINGS_ENC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("pos_enc", T.BinaryType(), False),
        T.StructField("doc_len", T.IntegerType(), False),
    ]
)


def build_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "content",
    mode: str = DEFAULT_MODE,
    encode_positions: bool = False,
    vocab: frozenset | None = None,
) -> DataFrame:
    """Tokenize + aggregate per (doc, term): the B1 posting-extraction job.

    ``vocab`` restricts the output to postings of those terms — same
    rows as filtering afterwards (doc_len / position ordinals count all
    tokens), but the non-vocabulary tokens never reach the grouping
    kernel (percolation's shape: tiny standing vocabulary, unbounded
    doc-stream vocabulary)."""

    CHUNK = 1024  # docs per inner chunk: bounds worker peak memory so
    # concurrent Python workers don't thrash caches/allocator

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for whole in batches:
            for lo in range(0, len(whole), CHUNK):
                pdf = whole.iloc[lo : lo + CHUNK].reset_index(drop=True)
                grouped = postings_batch(pdf[text_col], mode, encode_positions, vocab)
                if grouped.empty:
                    continue
                ids = pdf[id_col].to_numpy()
                grouped = grouped.rename(columns={"idx": "doc_id"})
                grouped["doc_id"] = ids[grouped["doc_id"].to_numpy(dtype="int64")]
                yield grouped

    schema = POSTINGS_ENC_SCHEMA if encode_positions else POSTINGS_SCHEMA
    return docs.select(id_col, text_col).mapInPandas(extract, schema=schema)


def term_stats(postings: DataFrame) -> DataFrame:
    """Term dictionary (B5): df = docs containing term, cf = total occurrences.

    Postings are unique per (doc_id, term) by construction, so df is a
    plain count — no countDistinct shuffle.
    """
    return postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )


def doc_stats(postings: DataFrame) -> DataFrame:
    """Per-doc exact length (token count after analysis-chain filters)."""
    return postings.groupBy("doc_id").agg(F.first("doc_len").alias("doc_len"))


@dataclass(frozen=True)
class CorpusStats:
    n_docs: int
    avgdl: float
    total_tokens: int


def corpus_stats(docs: DataFrame, postings: DataFrame) -> CorpusStats:
    """BM25 globals. N counts ALL docs (Tantivy's segment doc count
    includes token-less docs); avgdl = total indexed tokens / N."""
    n_docs = docs.count()
    total = postings.agg(F.sum("tf").alias("t")).collect()[0]["t"] or 0
    avgdl = (total / n_docs) if n_docs else 0.0
    return CorpusStats(n_docs=n_docs, avgdl=float(avgdl), total_tokens=int(total))


@dataclass
class InvertedIndex:
    """Table-native index bundle (M3). Segment-file form lives in segments.py.

    ``df_map``: optional pre-resolved {term: df} for the current query's
    terms — when set, planners skip the dictionary-lookup Spark job."""

    postings: DataFrame
    terms: DataFrame
    stats: CorpusStats
    df_map: dict[str, int] | None = None

    @property
    def n_docs(self) -> int:
        return self.stats.n_docs

    @property
    def avgdl(self) -> float:
        return self.stats.avgdl


def build_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "content",
    mode: str = DEFAULT_MODE,
    cache: bool = True,
) -> InvertedIndex:
    postings = build_postings(docs, id_col=id_col, text_col=text_col, mode=mode)
    if cache:
        postings = postings.cache()
    terms = term_stats(postings)
    if cache:
        terms = terms.cache()
    stats = corpus_stats(docs, postings)
    return InvertedIndex(postings=postings, terms=terms, stats=stats)
