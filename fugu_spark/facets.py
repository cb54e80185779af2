"""Hierarchical facets: derivation, filters, analytics (SURVEY.md §1.4, §2.5, §2.8).

Facets are `/a/b/c` paths, multi-valued per doc, stored as
``ArrayType(StringType)``. Derivation priority mirrors
/root/reference/src/db/document.rs:277-312:

1. explicit facets (normalized to a leading ``/``)
2. namespace facets (/root/reference/src/object.rs:81-111)
3. metadata-JSON flatten (/root/reference/src/db/utils.rs:11-56): recursive
   descent, object keys → path components, arrays fan out, only non-empty
   STRING leaves emit, prefixed ``/metadata``

Filter semantics (/root/reference/src/db/search.rs:292-324, 221-289):
``/*`` suffix → Prefix, ``k=v`` → Equals(value), ``*text*`` → wildcard
(case-insensitive substring), else Equals. The reference DEGRADES Prefix/
Contains/Exists to exact-term matches (:272-281) and applies wildcards as a
post-filter after 10x over-fetch; we implement the real semantics and push
every predicate below top-k (documented divergence, SURVEY.md F3-F5).

Analytics (facet counts / tree / values) replace the reference's
one-search-per-tree-node recursion (/root/reference/src/db/facet.rs:199-233)
with ONE scan: explode → prefix expansion → groupBy(prefix).count(). Parent
counts follow the reference rollup (parent = own + Σ children,
/root/reference/src/db/facet.rs:174-189), which our per-(doc,leaf)-prefix
counting reproduces exactly.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from dataclasses import dataclass
from functools import reduce

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------- derivation


def derive_facets(*components: tuple[str, Column]) -> Column:
    """Build a facets array from (dimension_name, value_column) pairs:
    ``[('lang', col), ...] → ['/lang/<v>', ...]``; null values skipped."""
    parts = [
        F.when(col.isNotNull(), F.concat(F.lit(f"/{name}/"), col.cast("string")))
        for name, col in components
    ]
    return F.filter(F.array(*parts), lambda x: x.isNotNull())


def namespace_facets(
    namespace: Column,
    organization: Column | None = None,
    conversation_id: Column | None = None,
    data_type: Column | None = None,
) -> Column:
    """Generated namespace facets (src/object.rs:81-111):
    /namespace/{ns}, /namespace/{ns}/organization/{org},
    /namespace/{ns}/conversation/{cid}, /namespace/{ns}/data/{dtype}."""
    base = F.concat(F.lit("/namespace/"), namespace)
    parts: list[Column] = [base]
    for seg, col in (
        ("organization", organization),
        ("conversation", conversation_id),
        ("data", data_type),
    ):
        if col is not None:
            parts.append(
                F.when(
                    col.isNotNull() & (col.cast("string") != ""),
                    F.concat(base, F.lit(f"/{seg}/"), col.cast("string")),
                )
            )
    return F.filter(F.array(*parts), lambda x: x.isNotNull())


def _flatten_json(obj, prefix: str, out: list[str]) -> None:
    """Recursive descent per src/db/utils.rs:11-56: object keys become path
    components; arrays fan out per element; only non-empty string leaves
    emit a facet."""
    if isinstance(obj, dict):
        for k, v in obj.items():
            _flatten_json(v, f"{prefix}/{k}", out)
    elif isinstance(obj, list):
        for v in obj:
            _flatten_json(v, prefix, out)
    elif isinstance(obj, str) and obj:
        out.append(f"{prefix}/{obj}")


def normalize_metadata(docs, metadata_col: str = "metadata"):
    """X6 serialize side (/root/reference/src/db/document.rs:168-173: the
    reference stores metadata as a serialized JSON string): struct / map /
    array-typed metadata columns are serialized with ``to_json`` at
    ingest; string columns (already JSON) pass through untouched. The
    stored string round-trips through :func:`metadata_facets_udf` (X7)."""
    if metadata_col not in docs.columns:
        return docs
    if dict(docs.dtypes)[metadata_col] == "string":
        return docs
    return docs.withColumn(metadata_col, F.to_json(F.col(metadata_col)))


def metadata_facets_udf(json_col: Column) -> Column:
    """Metadata JSON → '/metadata/...' facet paths (pandas UDF, X7)."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def flatten(s: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return []
            try:
                obj = json.loads(v)
            except (ValueError, TypeError):
                return []
            out: list[str] = []
            _flatten_json(obj, "/metadata", out)
            return out

        return s.map(one)

    return flatten(json_col)


# ---------------------------------------------------------------- filters


@dataclass(frozen=True)
class FacetFilter:
    path: str
    operator: str  # 'equals' | 'prefix' | 'contains' | 'wildcard'
    value: str | None = None


def parse_filter(raw: str) -> FacetFilter:
    """String → FacetFilter (src/db/search.rs:292-324 + wildcard :90-105)."""
    s = raw.strip()
    if s.startswith("*") and s.endswith("*") and len(s) > 2:
        return FacetFilter(path="", operator="wildcard", value=s.strip("*").lower())
    if s.endswith("/*"):
        p = s[:-2]
        return FacetFilter(path=p if p.startswith("/") else "/" + p, operator="prefix")
    if "=" in s and not s.startswith("/"):
        k, v = s.split("=", 1)
        return FacetFilter(path=f"/{k}/{v}", operator="equals", value=v)
    return FacetFilter(path=s if s.startswith("/") else "/" + s, operator="equals")


def filter_predicate(flt: FacetFilter, facets_col: Column) -> Column:
    if flt.operator == "equals":
        return F.array_contains(facets_col, flt.path)
    if flt.operator == "prefix":
        # proper prefix semantics (reference degrades to exact: divergence F3)
        return F.exists(facets_col, lambda f: f.startswith(flt.path))
    if flt.operator == "contains":
        return F.exists(facets_col, lambda f: f.contains(flt.value or flt.path))
    if flt.operator == "wildcard":
        return F.exists(facets_col, lambda f: F.lower(f).contains(flt.value))
    raise ValueError(f"unknown operator {flt.operator}")


def combine_filters(filters: list[str | FacetFilter], facets_col: Column) -> Column | None:
    """Exact terms OR'd together, prefixes OR'd, whole clause AND'd with the
    text query by the caller (src/db/search.rs:258-288, combine :132-151)."""
    if not filters:
        return None
    preds = [
        filter_predicate(f if isinstance(f, FacetFilter) else parse_filter(f), facets_col)
        for f in filters
    ]
    return reduce(lambda a, b: a | b, preds)


# ---------------------------------------------------------------- analytics


def _exploded(docs: DataFrame, facets_col: str = "facets") -> DataFrame:
    return docs.select(F.explode(facets_col).alias("facet"))


def prefix_expand(facet_col: Column) -> Column:
    """'/a/b/c' → ['/a', '/a/b', '/a/b/c'] (one scan replaces per-node search)."""
    parts = F.split(facet_col, "/")
    return F.transform(
        F.sequence(F.lit(1), F.size(parts) - 1),
        lambda i: F.array_join(F.slice(parts, 1, i + 1), "/"),
    )


def facet_counts(docs: DataFrame, root: str, facets_col: str = "facets") -> DataFrame:
    """Immediate-child doc counts under ``root`` (A1, src/db/facet.rs:78-97)."""
    depth = len([p for p in root.split("/") if p]) + 1
    return (
        _exploded(docs, facets_col)
        .filter(F.col("facet").startswith(root + "/"))
        .select(
            F.array_join(F.slice(F.split("facet", "/"), 1, depth + 1), "/").alias("child")
        )
        .groupBy("child")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("child")
    )


def facet_tree_counts(docs: DataFrame, facets_col: str = "facets") -> DataFrame:
    """All-prefix counts with reference rollup semantics (A3): the count of a
    prefix is Σ over (doc, leaf-facet) pairs under it — parent = own + Σ
    children (src/db/facet.rs:174-189). One scan, no recursion."""
    return (
        _exploded(docs, facets_col)
        .select(F.explode(prefix_expand(F.col("facet"))).alias("prefix"))
        .groupBy("prefix")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("prefix")
    )


def assemble_tree(prefix_counts: list[tuple[str, int]], max_depth: int | None = None) -> dict:
    """Driver-side nested-tree assembly from collected prefix counts (small)."""
    root: dict = {"path": "/", "count": 0, "children": {}}
    for path, count in sorted(prefix_counts):
        parts = [p for p in path.split("/") if p]
        if max_depth is not None and len(parts) > max_depth:
            continue
        node = root
        for p in parts:
            node = node["children"].setdefault(
                p, {"path": (node["path"].rstrip("/") + "/" + p), "count": 0, "children": {}}
            )
        node["count"] = count
    return root


def filter_values_at_path(docs: DataFrame, path: str, facets_col: str = "facets") -> DataFrame:
    """Immediate child values (no nesting) of a path, sorted (A6,
    src/db/facet.rs:387-421)."""
    depth = len([p for p in path.split("/") if p])
    parts = F.split("facet", "/")
    return (
        _exploded(docs, facets_col)
        .filter(F.col("facet").startswith(path + "/"))
        .select(F.element_at(parts, depth + 2).alias("value"))
        .filter(F.col("value").isNotNull() & (F.col("value") != ""))
        .distinct()
        .orderBy("value")
    )


def search_facets(
    docs: DataFrame, prefix: str, text: str | None = None, facets_col: str = "facets"
) -> DataFrame:
    """Facets under a prefix, optional case-insensitive contains, sorted by
    path (A7, src/db/facet.rs:425-460)."""
    out = (
        _exploded(docs, facets_col)
        .filter(F.col("facet").startswith(prefix))
        .groupBy("facet")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    if text:
        out = out.filter(F.lower(F.col("facet")).contains(text.lower()))
    return out.orderBy("facet")


def namespaces(docs: DataFrame, facets_col: str = "facets") -> DataFrame:
    """Namespace enumeration (A2, src/db/facet.rs:54-75): children of
    '/namespace', stripped, deduped, sorted."""
    return filter_values_at_path(docs, "/namespace", facets_col)


def all_filter_paths(docs: DataFrame, facets_col: str = "facets") -> DataFrame:
    """Map parent path → leaf children (A4, src/db/facet.rs:236-270),
    exploded as (parent, leaf) rows for oracle-friendly comparison."""
    parts = F.split("facet", "/")
    return (
        _exploded(docs, facets_col)
        .select(
            F.array_join(F.slice(parts, 1, F.size(parts) - 1), "/").alias("parent"),
            F.element_at(parts, -1).alias("leaf"),
        )
        .distinct()
        .orderBy("parent", "leaf")
    )


def namespace_filter_paths(
    docs: DataFrame, namespace: str, facets_col: str = "facets"
) -> DataFrame:
    """A5 (src/db/facet.rs:273-384): filter paths restricted to docs that
    hold the '/namespace/{ns}' facet. The reference caps the scan at
    10,000 docs (:286-289); we do not (documented divergence)."""
    scoped = docs.filter(F.array_contains(F.col(facets_col), f"/namespace/{namespace}"))
    return all_filter_paths(scoped, facets_col)


# ---------------------------------------------------------------- suggestions


SUGGESTION_SCHEMA = T.ArrayType(T.StringType())


def suggestions_udf(text_col: Column) -> Column:
    """Autocomplete suggestion phrases (D6, src/db/document.rs:187-225,
    phrase extraction :384-403): split on [.!?\\n], take the first
    min(3, words) words of each sentence, keep 3 < len < 50, dedupe,
    truncate to 10 per doc."""

    @F.pandas_udf(SUGGESTION_SCHEMA)
    def extract(s: pd.Series) -> pd.Series:
        import re

        splitter = re.compile(r"[.!?\n]")

        def one(text):
            if not text:
                return []
            out: list[str] = []
            seen: set[str] = set()
            for sentence in splitter.split(text):
                words = sentence.split()
                if not words:
                    continue
                phrase = " ".join(words[: min(3, len(words))])
                if 3 < len(phrase) < 50 and phrase not in seen:
                    seen.add(phrase)
                    out.append(phrase)
                if len(out) >= 10:
                    break
            return out

        return s.map(one)

    return extract(text_col)


# ---------------------------------------------------------------- score tweak


def filter_boost_score(
    score_col: Column, facets_col: Column, query_facets: list[str]
) -> Column:
    """R4 custom tweak (src/db/search.rs:473-519): score × 0.25^missing,
    demoting docs lacking the query's facets."""
    missing = F.size(F.array_except(F.array(*[F.lit(f) for f in query_facets]), facets_col))
    return score_col * F.pow(F.lit(0.25), missing.cast("double"))


def facet_boost_score(
    score_col: Column, facets_col: Column, boost_facets: list[str]
) -> Column:
    """R5 variant (behind option; DISABLED in the reference —
    /root/reference/src/db/search.rs:375-401 is commented out): score ×
    1.5^(count of the doc's facets that appear in ``boost_facets``).
    Promoting rather than demoting — the mirror image of R4."""
    matching = F.size(
        F.array_intersect(F.array(*[F.lit(f) for f in boost_facets]), facets_col)
    )
    return score_col * F.pow(F.lit(1.5), matching.cast("double"))
