"""BM25 scoring — the rank-identity target of the engine (SURVEY.md §2.7 R1).

Tantivy's formula (executed for every scored query the reference serves,
/root/reference/src/db/search.rs:162; constants /root/reference/API.md:82-84):

    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(t, d) = idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

Defaults k1 = 1.2, b = 0.75, both configurable (``bm25_k1`` / ``bm25_b``).
All arithmetic in f64. Divergence from byte-exact Tantivy, pinned in
fixtures: we use the EXACT doc length where Tantivy quantizes the
fieldnorm through a 256-entry table (SURVEY.md §7.4).

Everything here is plain column arithmetic — whole-stage codegen'd by
Catalyst, no UDF.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import BM25_B, BM25_K1


def idf_expr(df_col: Column, n_docs: int) -> Column:
    """ln(1 + (N - df + 0.5)/(df + 0.5)) as an f64 column."""
    dfd = df_col.cast("double")
    return F.log(1.0 + (F.lit(float(n_docs)) - dfd + 0.5) / (dfd + 0.5))


def idf_py(df: int, n_docs: int) -> float:
    """Pure-Python oracle — used by fixture tests (SURVEY.md §5.2)."""
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def bm25_py(
    tf: int,
    df: int,
    doc_len: int,
    n_docs: int,
    avgdl: float,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> float:
    norm = k1 * (1.0 - b + b * doc_len / avgdl)
    return idf_py(df, n_docs) * tf * (k1 + 1.0) / (tf + norm)
