"""Query engine v2: BM25 top-k over compressed segment files (SURVEY.md M5/M6).

Read path per query:

  dictionary lookup (driver, cached broadcast-sized parquet)
    → segments scan pruned by term_bucket (partition dirs) + term
      (parquet row-group min/max on the sorted term column)
    → vectorized block decode (mapInPandas, numpy varint)
      with BLOCK-MAX skipping: a block is skipped when its best possible
      score plus the other query terms' global upper bounds cannot beat
      the current threshold θ (Tantivy's block_wand analog; we use the
      rank-safe MaxScore form of the criterion)
    → per-partition bounded top-k heap → global top-k merge.

θ is seeded by fully scoring the highest-upper-bound query term (real doc
scores are a valid lower bound on the final top-k threshold, so pruning
is rank-safe: results are IDENTICAL to the exhaustive path — asserted in
tests). Terms whose cumulative upper bounds cannot reach θ ("non-
essential", the stop-word case) are only scored for docs already matched
by an essential term (semi-join), never scanned in full.

Boolean/phrase queries run through the exhaustive decode path and reuse
the table-native combiner (fugu_spark.search.execute_plan) — identical
semantics, one code path for correctness.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import BM25_B, BM25_K1
from .bm25 import idf_py
from .codecs import decode_posting_blocks_batched
from .postings import InvertedIndex
from .queryparse import (
    PREFIX_MAX_EXPANSIONS,
    QueryPlan,
    expand_plan,
    needs_expansion,
    parse_query,
)
from .search import cap_top_k, execute_plan, top_k
from .segments import SegmentIndex
from .tokenizer import DEFAULT_MODE

_DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("positions", T.ArrayType(T.IntegerType()), False),
        T.StructField("doc_len", T.IntegerType(), False),
        T.StructField("gen", T.IntegerType(), False),
    ]
)


def _apply_delete_mask(si: SegmentIndex, decoded: DataFrame) -> DataFrame:
    """Drop postings masked by the delete table: a (doc_id, del_gen) row
    kills the doc's postings in all generations < del_gen."""
    mask = si.deletes_df()
    if mask is None:
        return decoded.drop("gen")
    return (
        decoded.join(F.broadcast(mask), "doc_id", "left")
        .filter(F.col("del_gen").isNull() | (F.col("gen") >= F.col("del_gen")))
        .drop("del_gen", "gen")
    )


def term_upper_bound(
    idf: float, max_tf: int, min_doc_len: int, avgdl: float, k1: float = BM25_K1, b: float = BM25_B
) -> float:
    """Global/block score upper bound from skip metadata (B6)."""
    tf = float(max_tf)
    return idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * min_doc_len / avgdl))


def decode_postings(
    si: SegmentIndex,
    terms: list[str],
    term_meta: dict[str, dict],
    with_positions: bool = False,
    theta: float = 0.0,
    other_ub: dict[str, float] | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
    doc_ranges: tuple[np.ndarray, np.ndarray] | None = None,
) -> DataFrame:
    """Pruned scan + vectorized decode of the terms' posting blocks.

    ``other_ub[t]`` = Σ upper bounds of the OTHER query terms; blocks with
    idf_t·tfnorm(max_tf, min_dl) + other_ub[t] < theta are skipped without
    decoding (block-max pruning).

    ``doc_ranges`` = sorted disjoint (starts, ends) doc-id intervals; a
    block whose [min_doc_id, max_doc_id] overlaps no interval is skipped
    without decoding (conjunctive range pruning for AND/phrase: docs
    outside the rarest required term's blocks cannot match)."""
    buckets = sorted({term_meta[t]["term_bucket"] for t in terms})
    seg = si.segments_df(terms=terms, buckets=buckets)
    return _decode_seg_df(
        si, seg, with_positions, theta, other_ub, term_meta, k1, b, doc_ranges
    )


def decode_all_postings(si: SegmentIndex, with_positions: bool = False) -> DataFrame:
    """Decode every live posting (compaction / full rebuilds)."""
    return _decode_seg_df(si, si.segments_df(), with_positions, 0.0, None, None, BM25_K1, BM25_B)


def _decode_seg_df(
    si: SegmentIndex,
    seg: DataFrame,
    with_positions: bool,
    theta: float,
    other_ub: dict[str, float] | None,
    term_meta: dict[str, dict] | None,
    k1: float,
    b: float,
    doc_ranges: tuple[np.ndarray, np.ndarray] | None = None,
) -> DataFrame:
    cols = [
        "term",
        "n_docs",
        "max_tf",
        "min_doc_len",
        "min_doc_id",
        "max_doc_id",
        "gen",
        "doc_ids_enc",
        "tfs_enc",
        "doc_lens_enc",
    ] + (["pos_counts_enc", "positions_enc"] if with_positions else [])
    seg = seg.select(cols)
    avgdl = si.stats.avgdl
    idf = {t: m["idf"] for t, m in (term_meta or {}).items()}
    oub = other_ub or {}
    skip_on = theta > 0.0 and other_ub is not None
    r_starts, r_ends = doc_ranges if doc_ranges is not None else (None, None)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if r_starts is not None and len(pdf):
                # conjunctive range skip, vectorized over the batch: first
                # interval whose end >= block.min must start <= block.max
                bmin = pdf["min_doc_id"].to_numpy(np.int64)
                bmax = pdf["max_doc_id"].to_numpy(np.int64)
                j = np.searchsorted(r_ends, bmin, side="left")
                ok = j < len(r_starts)
                ok[ok] = r_starts[j[ok]] <= bmax[ok]
                pdf = pdf[ok]
            if skip_on and len(pdf):
                # block-max skip, vectorized: same float expression shape
                # as term_upper_bound (scalar path), so the keep set is
                # identical to the old per-row loop
                idfv = pdf["term"].map(idf).to_numpy(np.float64)
                mtf = pdf["max_tf"].to_numpy(np.float64)
                mdl = pdf["min_doc_len"].to_numpy(np.float64)
                ubv = idfv * mtf * (k1 + 1.0) / (
                    mtf + k1 * (1.0 - b + b * mdl / avgdl)
                )
                oubv = pdf["term"].map(oub).to_numpy(np.float64)
                pdf = pdf[ubv + oubv >= theta]
            if not len(pdf):
                continue
            # ONE batched decode for the whole Arrow batch (codecs.
            # decode_posting_blocks_batched): per-block stream decodes
            # paid ~0.2 ms of fixed numpy overhead per block
            n = pdf["n_docs"].to_numpy(np.int64)
            dec = decode_posting_blocks_batched(
                n,
                pdf["doc_ids_enc"].tolist(),
                pdf["tfs_enc"].tolist(),
                pdf["doc_lens_enc"].tolist(),
                pdf["pos_counts_enc"].tolist() if with_positions else None,
                pdf["positions_enc"].tolist() if with_positions else None,
                flat_positions=True,
            )
            total = dec["n_total"]
            if with_positions:
                # one int32 cast of the FLAT positions, then a single
                # split — the per-doc astype chain cost ~2x the decode
                flat32 = (
                    dec["positions_flat"].astype(np.int64).astype("int32")
                )
                positions = np.split(flat32, dec["pos_offsets"][1:-1])
            else:
                positions = [np.array([], dtype="int32")] * total
            yield pd.DataFrame(
                {
                    "doc_id": dec["doc_ids"].view(np.int64),
                    "term": np.repeat(pdf["term"].to_numpy(), n),
                    "tf": dec["tfs"].astype(np.int64).astype("int32"),
                    "positions": positions,
                    "doc_len": dec["doc_lens"].astype(np.int64).astype("int32"),
                    "gen": np.repeat(
                        pdf["gen"].to_numpy(np.int64), n
                    ).astype(np.int32),
                }
            )

    return _apply_delete_mask(si, seg.mapInPandas(gen, schema=_DECODED_SCHEMA))


def heap_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-partition bounded top-k → global merge (R2: the explicit form
    of TopDocs::with_limit). Ties break (score DESC, doc_id ASC).

    Vectorized per Arrow batch: the ≤k running survivors are folded into
    each batch and re-selected with one lexsort (ties included, so the
    boundary doc with the lower doc_id is never dropped) — no per-row
    Python in the reduction."""

    def part_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        run_d = np.empty(0, dtype=np.int64)
        run_s = np.empty(0, dtype=np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            d = np.concatenate([run_d, pdf["doc_id"].to_numpy(np.int64)])
            s = np.concatenate([run_s, pdf["score"].to_numpy(np.float64)])
            if len(s) > k:
                keep = np.lexsort((d, -s))[:k]  # (score DESC, doc_id ASC)
                d, s = d[keep], s[keep]
            run_d, run_s = d, s
        if len(run_d):
            yield pd.DataFrame({"doc_id": run_d, "score": run_s})

    parts = scored.mapInPandas(part_topk, schema="doc_id long, score double")
    return parts.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


_META_COLS = ["term", "df", "term_bucket", "max_tf", "min_doc_len"]


def _warn_spark_fallback(what: str, exc: Exception) -> None:
    """The pyarrow fast paths fall back to a Spark scan rather than fail,
    but NEVER silently: a real defect in the pyarrow path (schema drift,
    corrupted files, a wrong filter) would otherwise be masked as a
    10-100x per-query slowdown."""
    import warnings

    warnings.warn(
        f"{what}: pyarrow fast path failed "
        f"({type(exc).__name__}: {exc}); falling back to a Spark scan",
        RuntimeWarning,
        stacklevel=3,
    )


def _terms_dataset(si: SegmentIndex, refresh: bool = False):
    """Cached pyarrow dataset over the terms dictionary. ``refresh``
    drops the cached file listing — an incremental dictionary merge
    swaps the terms directory in place (write-new → rmtree → rename,
    segments.py merge_dictionary_incremental), which strands any
    dataset opened before the swap."""
    import pyarrow.dataset as pads

    from .fsio import as_local

    dset = None if refresh else getattr(si, "_terms_ds", None)
    if dset is None:
        dset = pads.dataset(
            os.path.join(as_local(si.index_dir), "terms"), format="parquet"
        )
        si._terms_ds = dset
    return dset


def _term_meta(si: SegmentIndex, terms: list[str]) -> dict[str, dict]:
    """Dictionary lookup for the query's terms.

    Hot path reads the terms parquet driver-side through pyarrow with a
    pushed-down term filter (row-group min/max pruning; no Spark job —
    queries should launch exactly one job). A FileNotFoundError means
    the dictionary was swapped under a cached listing (in-place
    incremental merge) — re-open once and retry. Falls back to a Spark
    scan — with a RuntimeWarning, never silently — if the dictionary
    isn't reachable as a pyarrow dataset (exotic FS, empty/corrupt
    terms dir)."""
    rows: list[dict] = []
    if not terms:
        return {}
    if getattr(si, "as_of", None) is not None or getattr(si, "dfs_global", False):
        # point-in-time reader OR a federated DFS member: the ON-DISK
        # dictionary holds local stats — df must come from the derived
        # dictionary frame (pinned at a generation / patched with the
        # federation's global df). One small Spark job; neither is the
        # serving hot path.
        rows = [
            r.asDict() for r in si.terms.filter(F.col("term").isin(terms)).collect()
        ]
    else:
        try:
            import pyarrow.dataset as pads

            flt = pads.field("term").isin(terms)
            try:
                tbl = _terms_dataset(si).to_table(columns=_META_COLS, filter=flt)
            except FileNotFoundError:
                tbl = _terms_dataset(si, refresh=True).to_table(
                    columns=_META_COLS, filter=flt
                )
            rows = tbl.to_pylist()
        except Exception as e:
            _warn_spark_fallback("terms dictionary lookup", e)
            rows = [
                r.asDict() for r in si.terms.filter(F.col("term").isin(terms)).collect()
            ]
    out = {}
    for r in rows:
        out[r["term"]] = {
            "df": r["df"],
            "term_bucket": r["term_bucket"],
            "max_tf": r["max_tf"],
            "min_doc_len": r["min_doc_len"],
            "idf": idf_py(r["df"], si.stats.n_docs),
        }
    return out


def _dict_prefix_terms(si: SegmentIndex, prefix: str) -> list[str]:
    """Prefix expansion for ``term*`` / ``"a b"*`` against the RANGE-
    CLUSTERED terms dictionary: a driver-side pyarrow read of the
    [prefix, upper-bound) byte range — row-group min/max pruning makes
    this O(matching terms) even at 10^9-term vocab, the payoff of the
    round-4 dictionary clustering. Capped at PREFIX_MAX_EXPANSIONS in
    dictionary order (Tantivy's max_expansions)."""
    from .serve import _prefix_upper_bound

    try:
        import pyarrow.dataset as pads

        flt = pads.field("term") >= prefix
        ub = _prefix_upper_bound(prefix)
        if ub is not None:
            flt = flt & (pads.field("term") < ub)
        try:
            tbl = _terms_dataset(si).to_table(columns=["term"], filter=flt)
        except FileNotFoundError:
            tbl = _terms_dataset(si, refresh=True).to_table(columns=["term"], filter=flt)
        terms = sorted(tbl["term"].to_pylist())
    except Exception as e:
        _warn_spark_fallback("prefix expansion dictionary read", e)
        rows = (
            si.terms.filter(F.col("term").startswith(prefix))
            .select("term")
            .orderBy("term")
            .limit(PREFIX_MAX_EXPANSIONS)
            .collect()
        )
        terms = [r["term"] for r in rows]
    return terms[:PREFIX_MAX_EXPANSIONS]


def _dict_fuzzy_terms(si: SegmentIndex, term: str, n: int) -> list[str]:
    """Fuzzy expansion for ``term~1``/``~2``: a distributed scan of the
    terms dictionary with a length-band prefilter + JVM ``levenshtein``
    predicate. Tantivy walks an FST automaton; the Spark-first form is
    one parallel pass over the dictionary parquet — at 10⁹-term vocab
    this is a (pruned-by-length-stats) columnar scan, not a driver loop.
    Capped at PREFIX_MAX_EXPANSIONS in dictionary order."""
    rows = (
        si.terms.filter(
            (F.length("term") >= len(term) - n)
            & (F.length("term") <= len(term) + n)
            & (F.levenshtein(F.col("term"), F.lit(term)) <= n)
        )
        .select("term")
        .orderBy("term")
        .limit(PREFIX_MAX_EXPANSIONS)
        .collect()
    )
    return [r["term"] for r in rows]


def _dict_regex_terms(si: SegmentIndex, pattern: str) -> list[str]:
    """Regex expansion for ``/pattern/`` (Tantivy RegexQuery analog):
    anchored whole-term match. The pattern's literal prefix prunes the
    range-clustered dictionary read to its row groups (Lucene extracts
    the same prefix from the query automaton); a prefix-free pattern
    ('/.*x/') is an honest full dictionary column scan — same as
    Lucene's automaton walk over the whole FST. Capped at
    PREFIX_MAX_EXPANSIONS in dictionary order."""
    import re as _re

    from .queryparse import regex_literal_prefix
    from .serve import _prefix_upper_bound

    rx = _re.compile(pattern)
    lit = regex_literal_prefix(pattern)
    try:
        import pyarrow.dataset as pads

        flt = None
        if lit:
            flt = pads.field("term") >= lit
            ub = _prefix_upper_bound(lit)
            if ub is not None:
                flt = flt & (pads.field("term") < ub)
        try:
            tbl = _terms_dataset(si).to_table(columns=["term"], filter=flt)
        except FileNotFoundError:
            tbl = _terms_dataset(si, refresh=True).to_table(columns=["term"], filter=flt)
        terms = sorted(t for t in tbl["term"].to_pylist() if rx.fullmatch(t))
    except Exception as e:
        _warn_spark_fallback("regex expansion dictionary read", e)
        cond = F.col("term").rlike("^(?:" + pattern + ")$")
        if lit:
            cond = F.col("term").startswith(lit) & cond
        rows = (
            si.terms.filter(cond)
            .select("term")
            .orderBy("term")
            .limit(PREFIX_MAX_EXPANSIONS)
            .collect()
        )
        terms = [r["term"] for r in rows]
    return terms[:PREFIX_MAX_EXPANSIONS]


def _segment_expander(si: SegmentIndex):
    """queryparse.expand_plan expander over the segment dictionary."""

    def exp(leaf) -> list[str]:
        if leaf.prefix_last:
            return _dict_prefix_terms(si, leaf.terms[-1])
        if leaf.regex:
            return _dict_regex_terms(si, leaf.terms[-1])
        return _dict_fuzzy_terms(si, leaf.terms[-1], leaf.fuzzy)

    return exp


def _decode_range_postings(
    si: SegmentIndex,
    plan: QueryPlan,
    exclude_terms: list[str],
    with_positions: bool,
    k1: float,
    b: float,
    doc_ranges=None,
) -> DataFrame | None:
    """Extra decode for lexicographic range leaves '[a TO b]': scan the
    segment files with the term-range predicate pushed down (min/max
    row-group pruning on the term-sorted layout) and decode the matching
    blocks. Terms already decoded for the plan's term/phrase leaves are
    EXCLUDED — their rows are in the base decode, and duplicating a
    (term, doc) posting would double that term's BM25 contribution."""
    from .search import _range_cond

    rngs = {l.rng for l in plan.leaves if l.rng is not None}
    if not rngs:
        return None
    from .queryparse import Leaf as _Leaf

    pred = None
    for rng in sorted(rngs, key=lambda r: tuple(str(x) for x in r)):
        c = _range_cond(_Leaf(terms=(), rng=rng))
        pred = c if pred is None else (pred | c)
    seg = si.segments_df().filter(pred)
    if exclude_terms:
        seg = seg.filter(~F.col("term").isin(exclude_terms))
    return _decode_seg_df(
        si, seg, with_positions, 0.0, None, None, k1, b, doc_ranges
    )


def merge_intervals(starts: np.ndarray, ends: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Sort + merge overlapping [start, end] intervals into disjoint form."""
    if len(starts) == 0:
        return starts.astype(np.int64), ends.astype(np.int64)
    order = np.argsort(starts, kind="mergesort")
    s, e = starts[order], ends[order]
    out_s, out_e = [int(s[0])], [int(e[0])]
    for a, z in zip(s[1:], e[1:]):
        if a <= out_e[-1]:
            out_e[-1] = max(out_e[-1], int(z))
        else:
            out_s.append(int(a))
            out_e.append(int(z))
    return np.asarray(out_s, dtype=np.int64), np.asarray(out_e, dtype=np.int64)


# Above this df the anchor's own block metadata is no longer driver-cheap
# (df/128 rows) AND range pruning stops being selective — skip it.
ANCHOR_MAX_DF = 2_000_000


def conjunctive_anchor(plan: QueryPlan, meta: dict[str, dict]) -> str | None:
    """The rarest term every matching doc MUST contain, or None.

    Any term of a Must leaf qualifies (docs must match all Must leaves);
    with no Musts, a lone positive phrase leaf qualifies (all phrase terms
    co-occur in a match). For nested plans only ROOT-level Must leaves
    qualify (a Must group's members are alternatives, not requirements).
    Pruning other terms' blocks to this term's doc-id ranges is
    rank-safe: a doc outside them cannot match."""
    if plan.root is not None:
        from .queryparse import Leaf as _Leaf

        required = [
            t
            for occ, child in plan.root.children
            if occ == "must" and isinstance(child, _Leaf) and not child.synonym
            for t in child.terms
        ]
        required = [t for t in required if t in meta]
        if not required:
            return None
        anchor = min(required, key=lambda t: meta[t]["df"])
        return anchor if meta[anchor]["df"] <= ANCHOR_MAX_DF else None
    # a synonym group's members are alternatives — none is individually
    # required, so a Must synonym leaf can never anchor block pruning
    required = [t for l in plan.leaves if l.occur == "must" and not l.synonym for t in l.terms]
    if not required:
        positive = [l for l in plan.leaves if l.occur != "must_not"]
        if len(positive) == 1 and positive[0].is_phrase:
            required = list(positive[0].terms)
    required = [t for t in required if t in meta]
    if not required:
        return None
    anchor = min(required, key=lambda t: meta[t]["df"])
    return anchor if meta[anchor]["df"] <= ANCHOR_MAX_DF else None


def anchor_doc_ranges(
    si: SegmentIndex, term: str, term_meta: dict[str, dict]
) -> tuple[np.ndarray, np.ndarray] | None:
    """Merged [min_doc_id, max_doc_id] intervals of the term's blocks, read
    driver-side from segment metadata columns only (B6 skip data)."""
    try:
        import pyarrow.dataset as pads

        from .fsio import as_local

        dset = getattr(si, "_seg_meta_ds", None)
        if dset is None:
            dset = pads.dataset(
                os.path.join(as_local(si.index_dir), "segments"),
                format="parquet",
                partitioning="hive",
            )
            si._seg_meta_ds = dset
        flt = (pads.field("term_bucket") == term_meta[term]["term_bucket"]) & (
            pads.field("term") == term
        )
        if getattr(si, "as_of", None) is not None:
            # point-in-time: prune to pinned generations (without this the
            # live superset intervals are still COVERING — merely less
            # tight — so this is a precision filter, not a safety one)
            flt = flt & (pads.field("gen") <= si.as_of)
        tbl = dset.to_table(columns=["min_doc_id", "max_doc_id"], filter=flt)
        starts = tbl["min_doc_id"].to_numpy()
        ends = tbl["max_doc_id"].to_numpy()
    except Exception as e:
        _warn_spark_fallback("anchor block-range metadata read", e)
        rows = (
            si.segments_df(terms=[term], buckets=[term_meta[term]["term_bucket"]])
            .select("min_doc_id", "max_doc_id")
            .collect()
        )
        starts = np.asarray([r[0] for r in rows], dtype=np.int64)
        ends = np.asarray([r[1] for r in rows], dtype=np.int64)
    if len(starts) == 0:
        return None
    return merge_intervals(starts, ends)


def _score_col(idf: dict[str, float], avgdl: float, k1: float, b: float) -> Column:
    tf = F.col("tf").cast("double")
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("doc_len").cast("double") / F.lit(avgdl))
    idf_col = F.coalesce(
        *[F.when(F.col("term") == t, F.lit(v)) for t, v in idf.items()]
    ) if idf else F.lit(0.0)
    return idf_col * tf * F.lit(k1 + 1.0) / (tf + norm)


def filter_index_docs(si: SegmentIndex, filters: list) -> DataFrame:
    """Doc ids matching ANY facet filter, from the index's persisted
    filter_index (written by FuguSparkEngine) — no docs table required,
    so filtered queries work straight off the index at any scale.
    Equals/Prefix push down to the parquet scan (equality /
    StringStartsWith); Contains/Wildcard run as a distributed scan of the
    facet column. Generations are delete-masked like posting blocks."""
    from . import fsio
    from .facets import FacetFilter, parse_filter

    path = fsio.join(si.index_dir, "filter_index")
    if not fsio.exists(path):
        raise ValueError(
            "no filter_index in this index dir — build through "
            "FuguSparkEngine (facets_col) or pass docs + doc_filter"
        )
    fi = si.spark.read.schema("doc_id long, facet string, gen int").parquet(path)
    pred = None
    for raw in filters:
        flt = raw if isinstance(raw, FacetFilter) else parse_filter(raw)
        if flt.operator == "equals":
            e = F.col("facet") == flt.path
        elif flt.operator == "prefix":
            e = F.col("facet").startswith(flt.path)
        elif flt.operator == "contains":
            e = F.col("facet").contains(flt.value or flt.path)
        else:  # wildcard
            e = F.lower(F.col("facet")).contains(flt.value)
        pred = e if pred is None else (pred | e)
    hits = fi.filter(pred)
    mask = si.deletes_df()
    if mask is not None:
        hits = (
            hits.join(F.broadcast(mask), "doc_id", "left")
            .filter(F.col("del_gen").isNull() | (F.col("gen") >= F.col("del_gen")))
            .drop("del_gen")
        )
    return hits.select("doc_id").distinct()


def date_index_docs(si: SegmentIndex, date_ranges: dict) -> DataFrame:
    """Doc ids inside EVERY [start, end) range, from the index's persisted
    epoch-micros date sidecar (written by FuguSparkEngine) — no docs
    table required, the distributed analog of
    ``LocalSearcher._allowed_dates``. Generations are delete-masked like
    posting blocks; NULL dates (unparseable at ingest) never match."""
    from . import fsio
    from .dates import parse_rfc3339

    path = fsio.join(si.index_dir, "date_index")
    if not fsio.exists(path):
        raise ValueError(
            "no date_index in this index dir — build through "
            "FuguSparkEngine with date fields, or pass docs + doc_filter"
        )
    di = si.spark.read.parquet(path)
    pred = None
    for col, (start, end) in date_ranges.items():
        cu = f"{col}_us"
        if cu not in di.columns:
            raise ValueError(f"date column {col!r} is not in the date sidecar")
        e = F.col(cu).isNotNull()
        if start is not None:
            e = e & (F.col(cu) >= F.unix_micros(parse_rfc3339(F.lit(start))))
        if end is not None:
            e = e & (F.col(cu) < F.unix_micros(parse_rfc3339(F.lit(end))))
        pred = e if pred is None else (pred & e)
    if pred is None:
        raise ValueError("empty date_ranges")
    hits = di.filter(pred)
    mask = si.deletes_df()
    if mask is not None:
        hits = (
            hits.join(F.broadcast(mask), "doc_id", "left")
            .filter(F.col("del_gen").isNull() | (F.col("gen") >= F.col("del_gen")))
            .drop("del_gen")
        )
    return hits.select("doc_id").distinct()


def search_segments(
    si: SegmentIndex,
    query_text: str | None,
    k: int | None = 10,
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
    doc_filter: Column | None = None,
    mode: str = DEFAULT_MODE,
    k1: float = BM25_K1,
    b: float = BM25_B,
    use_wand: bool = True,
    wand_min_postings: int = 100_000,
    filter_paths: list | None = None,
    date_ranges: dict | None = None,
    min_should_match: int = 0,
    sort_by: str | None = None,
    sort_ascending: bool = False,
    min_score: float | None = None,
    synonyms: dict | None = None,
) -> DataFrame:
    """Top-k search over the segment index → DataFrame(doc_id, score).

    ``k=None`` returns the FULL matched set (one row per matching doc,
    scored, unsorted — no top-k). That is the shape index-maintenance
    consumers need (delete-by-query, tagging, exports): the match set
    stays a distributed frame, never ranked or truncated, and the
    MaxScore pruned path is skipped since score pruning is only
    rank-safe under a k budget.

    A ``k`` above the index's document count (maxDoc, ``si.stats.n_docs``)
    is capped to it before the path choice, so top-k memory follows
    ``min(k, n_docs)``, not ``k`` — ``k=10**9`` asks for the ranked full
    set at the matched set's cost (see search.cap_top_k).

    MaxScore/block-max pruning costs one extra θ-seeding job, so it only
    engages for pure-OR queries whose posting volume exceeds
    ``wand_min_postings`` — below that the exhaustive single-pass is
    faster (and identical in results).

    ``filter_paths`` applies facet filters from the index's own persisted
    filter_index and ``date_ranges`` ({col: (start_rfc3339, end)}) applies
    half-open date ranges from the date_index sidecar — neither needs the
    docs table; ``doc_filter`` + ``docs`` is the arbitrary-predicate
    alternative."""
    if getattr(si, "as_of", None) is not None and (filter_paths or date_ranges):
        raise ValueError(
            "filter_paths/date_ranges are not generation-pinned (the "
            "filter_index/date_index sidecars read live rows) — run "
            "point-in-time queries without sidecar filters, or use "
            "doc_filter with a snapshot docs table"
        )
    if isinstance(query_text, dict):
        # structured-DSL query (fugu_spark.dsl — the only spelling for
        # span_near etc.) compiles onto the same plan shapes
        from .dsl import compile_query

        plan = compile_query(query_text, mode=mode)
    else:
        plan = parse_query(query_text, mode=mode)
    if needs_expansion(plan):
        plan = expand_plan(plan, _segment_expander(si))
    if synonyms:
        from .queryparse import apply_synonyms

        plan = apply_synonyms(plan, synonyms, mode=mode)
    k, _ = cap_top_k(k, 0, si.stats.n_docs, plan, docs)
    spark = si.spark

    pure_or = (
        not plan.is_all
        and plan.root is None
        and plan.leaves
        and all(
            l.occur == "should" and not l.is_phrase and l.rng is None and not l.synonym
            for l in plan.leaves
        )
        and doc_filter is None
        and filter_paths is None
        and date_ranges is None
        # msm >= 2 changes which docs match a pure-OR query, so the
        # MaxScore θ-seed is no longer rank-safe (the true k-th score of
        # the msm-filtered set can sit below the unfiltered θ); msm <= 1
        # is the default semantics and keeps the pruned path
        and min_should_match <= 1
        # field-sorted top-k needs the WHOLE matched set (score pruning
        # would drop docs that win on the sort key)
        and sort_by is None
    )
    if pure_or and use_wand and k is not None:
        meta = _term_meta(si, plan.all_terms())
        if sum(m["df"] for m in meta.values()) >= wand_min_postings:
            return _search_maxscore(si, plan, k, k1, b, meta=meta)

    # exhaustive path: decode plan terms, reuse the table-native combiner
    all_terms = plan.all_terms()
    need_pos = any(l.is_phrase for l in plan.leaves)
    meta = _term_meta(si, all_terms)
    live_terms = [t for t in all_terms if t in meta]
    needs_universe = plan.is_all or (plan.leaves and plan.reads_universe())
    ranges = None
    if needs_universe and docs is None:
        # AllQuery / NOT-only (or a NOT-only nested group, which would
        # otherwise see only the docs holding a plan term) over the bare
        # index: the doc universe must come from the index itself —
        # decode every live posting (this IS a full scan; that's the
        # query's semantics). Docs whose text produced zero postings are
        # unrepresentable here: pass `docs` to include them. Positions
        # must ride along when the plan has a phrase (e.g. `NOT "foo
        # bar"`) or the exclusion silently no-ops.
        decoded = decode_all_postings(si, with_positions=need_pos)
    elif plan.is_all or not live_terms:
        decoded = spark.createDataFrame([], _DECODED_SCHEMA)
    else:
        # AND/phrase block-range pruning: only blocks overlapping the
        # rarest required term's doc-id ranges can contain matches, so
        # the common terms' blocks are mostly skipped before decode
        # (`rare AND the`-shaped queries stop decoding `the`).
        if len(live_terms) > 1:
            anchor = conjunctive_anchor(plan, meta)
            if anchor is not None:
                ranges = anchor_doc_ranges(si, anchor, meta)
        decoded = decode_postings(
            si, live_terms, meta, with_positions=need_pos, k1=k1, b=b, doc_ranges=ranges
        )
    if not (needs_universe and docs is None):
        # lexicographic range leaves need postings outside the plan's own
        # terms; decode_all_postings above already covers everything
        extra = _decode_range_postings(
            si, plan, live_terms, need_pos, k1, b, doc_ranges=ranges
        )
        if extra is not None:
            if "gen" in decoded.columns:  # the empty-plan frame keeps gen
                decoded = decoded.drop("gen")
            decoded = decoded.unionByName(extra)
    idx = InvertedIndex(
        postings=decoded,
        terms=si.terms,
        stats=si.stats,
        df_map={t: m["df"] for t, m in meta.items()},
    )
    scored = execute_plan(
        idx, plan, docs=docs, id_col=id_col, k1=k1, b=b,
        min_should_match=min_should_match,
    )
    if doc_filter is not None:
        if docs is None:
            raise ValueError("doc_filter requires docs")
        keep = docs.filter(doc_filter).select(F.col(id_col).cast("long").alias("doc_id"))
        scored = scored.join(keep, "doc_id", "left_semi")
    if filter_paths:
        try:
            matched = filter_index_docs(si, filter_paths)
        except ValueError:
            # pre-0.3.0 index (or one built without a facets column): fall
            # back to combining the filters over the docs table — the
            # loud error stays only for the docs-less case
            if docs is None:
                raise
            from .facets import combine_filters

            pred = combine_filters(filter_paths, F.col("facets"))
            matched = (
                docs.filter(pred)
                .select(F.col(id_col).cast("long").alias("doc_id"))
                .distinct()
            )
        scored = scored.join(matched, "doc_id", "left_semi")
    if date_ranges:
        scored = scored.join(date_index_docs(si, date_ranges), "doc_id", "left_semi")
    if min_score is not None:
        # must precede a field-sorted top-k: scores are not monotone in
        # field order, so slice-then-threshold would under-fill the page
        # (equivalent on the relevance path, where scores ARE monotone)
        scored = scored.filter(F.col("score") >= min_score)
    if k is None:
        if sort_by is not None:
            raise ValueError("sort_by requires a k (full-set mode is unsorted)")
        return scored
    if sort_by is not None:
        if docs is None:
            raise ValueError("sort_by requires docs")
        from .search import top_k_by_field

        return top_k_by_field(
            scored, docs, sort_by, k=k, ascending=sort_ascending, id_col=id_col
        )
    return top_k(scored, k=k)


def _search_maxscore(
    si: SegmentIndex,
    plan: QueryPlan,
    k: int,
    k1: float,
    b: float,
    meta: dict[str, dict] | None = None,
) -> DataFrame:
    """Rank-safe MaxScore/block-max execution for pure-OR term queries."""
    # fold duplicate terms' boosts together (a OR a ≡ 2a in summed scoring)
    boosts: dict[str, float] = {}
    for leaf in plan.leaves:
        boosts[leaf.terms[0]] = boosts.get(leaf.terms[0], 0.0) + leaf.boost
    meta = meta if meta is not None else _term_meta(si, list(boosts))
    terms = [t for t in boosts if t in meta]
    spark = si.spark
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    avgdl = si.stats.avgdl
    idf_boosted = {t: meta[t]["idf"] * boosts[t] for t in terms}
    if len(terms) == 1:
        # single live term: no θ seeding or essential split can prune
        # anything — decode once, heap top-k (one job)
        t = terms[0]
        scored = decode_postings(si, [t], meta, k1=k1, b=b).select(
            "doc_id", _score_col({t: idf_boosted[t]}, avgdl, k1, b).alias("score")
        )
        return heap_topk(scored, k)
    ub = {
        t: boosts[t]
        * term_upper_bound(meta[t]["idf"], meta[t]["max_tf"], meta[t]["min_doc_len"], avgdl, k1, b)
        for t in terms
    }
    # θ and ub are in boosted-score space; block-max pruning inside
    # decode_postings derives block bounds from meta idf, so it must see
    # the boosted idf too or every block fails the bound check (q9 bug)
    meta_boosted = {t: {**meta[t], "idf": idf_boosted[t]} for t in terms}

    # θ seed: fully score the highest-upper-bound term (rank-safe lower bound)
    seed = max(terms, key=lambda t: ub[t])
    seed_scored = decode_postings(si, [seed], meta, k1=k1, b=b).select(
        "doc_id", _score_col({seed: idf_boosted[seed]}, avgdl, k1, b).alias("score")
    )
    seed_top = seed_scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect()
    theta = seed_top[-1]["score"] if len(seed_top) == k else 0.0

    # essential/non-essential split (ubs ascending; strict < keeps rank safety)
    by_ub = sorted(terms, key=lambda t: ub[t])
    cum, non_essential = 0.0, []
    for t in by_ub:
        if t == seed:
            continue
        if cum + ub[t] < theta:
            non_essential.append(t)
            cum += ub[t]
        else:
            break
    essential = [t for t in terms if t not in non_essential]

    other_ub = {t: sum(ub[u] for u in terms if u != t) for t in terms}
    ess = decode_postings(
        si, essential, meta_boosted, theta=theta, other_ub=other_ub, k1=k1, b=b
    ).select("doc_id", "term", _score_col(idf_boosted, avgdl, k1, b).alias("score"))

    if non_essential:
        cand = ess.select("doc_id").distinct()
        non = (
            decode_postings(si, non_essential, meta, k1=k1, b=b)
            .join(cand, "doc_id", "left_semi")
            .select("doc_id", "term", _score_col(idf_boosted, avgdl, k1, b).alias("score"))
        )
        all_scores = ess.unionByName(non)
    else:
        all_scores = ess

    # deterministic sum (sorted by term) then per-partition heap + merge
    summed = (
        all_scores.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("term", "score"))).alias("parts"))
        .select(
            "doc_id",
            F.aggregate("parts", F.lit(0.0), lambda acc, p: acc + p["score"]).alias("score"),
        )
    )
    return heap_topk(summed, k)
