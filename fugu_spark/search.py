"""Query execution over the table-native inverted index (SURVEY.md §2.6-2.7).

Mirrors the reference planner ``Dataset::search``
(/root/reference/src/db/search.rs:74-218): parse → boolean combine →
score → top-k, re-expressed as one Spark job per query:

    postings scan (term-pruned) → per-leaf BM25 column arithmetic →
    single groupBy(doc_id) boolean combine → filter pushdown →
    orderBy(score DESC, doc_id ASC).limit(k)

Design notes
------------
- Term statistics (df) for the handful of query terms are collected
  driver-side once per query (the term dictionary is broadcast-sized for
  any query); every leaf score is then pure codegen'd column arithmetic —
  no join on the postings at all for term leaves.
- Boolean combine (Q2-Q5) is ONE shuffle: groupBy(doc_id) computing the
  score sum, the count of distinct Must leaves matched, and a MustNot
  flag. Scores are summed in deterministic leaf order (array_sort before
  the fold) so ranks are stable across partition counts (SURVEY.md §7.4).
- Facet/metadata filters are pushed BELOW top-k (semi-join before the
  limit), replacing the reference's 10x over-fetch + post-filter hack
  (/root/reference/src/db/search.rs:153-196) with a plan that is
  rank-equivalent and never under-fetches.
- Tie-break pinned to (score DESC, doc_id ASC) — Tantivy's internal
  DocAddress order is not reproducible (SURVEY.md R3).
- Pinned divergence: a query with only MustNot clauses matches nothing
  in Tantivy; we instead treat it as AllQuery minus exclusions (more
  useful; documented).
- Phrase scoring (Q6) pinned as: tf_phrase = number of adjacency
  matches; idf_phrase = sum of constituent-term idfs (Lucene-style);
  positions are pre-filter ordinals so adjacency survives the
  long-token filter.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import BM25_B, BM25_K1
from .bm25 import idf_py
from .postings import InvertedIndex
from .queryparse import (
    PREFIX_MAX_EXPANSIONS,
    BoolNode,
    Leaf,
    QueryPlan,
    expand_plan,
    parse_query,
)
from .tokenizer import DEFAULT_MODE


def dict_expander(indexes: dict):
    """Dictionary expander over InvertedIndex term dictionaries for
    queryparse.expand_plan — prefixes (``term*``) and fuzzy terms
    (``term~1``/``~2``). A field-qualified leaf expands against its own
    field's dictionary, an unqualified one against the UNION of all
    default fields' dictionaries (sorted, capped downstream). Fuzzy uses
    Spark's JVM ``levenshtein`` with a length-band prefilter — a
    distributed dictionary scan (Tantivy's trick is an FST automaton;
    ours is a predicate the optimizer parallelizes)."""

    def exp(leaf) -> list[str]:
        t = leaf.terms[-1]
        idxs = (
            [indexes[leaf.fld]]
            if leaf.fld is not None and leaf.fld in indexes
            else list(indexes.values())
        )
        terms: set[str] = set()
        for idx in idxs:
            if leaf.prefix_last:
                cond = F.col("term").startswith(t)
            elif leaf.regex:
                # Tantivy RegexQuery analog: anchored (whole-term) match,
                # literal-prefix prune so the clustered dictionary scan
                # stays O(matching row groups) when the pattern has one
                from .queryparse import regex_literal_prefix

                cond = F.col("term").rlike("^(?:" + t + ")$")
                lit = regex_literal_prefix(t)
                if lit:
                    cond = F.col("term").startswith(lit) & cond
            else:
                cond = (
                    (F.length("term") >= len(t) - leaf.fuzzy)
                    & (F.length("term") <= len(t) + leaf.fuzzy)
                    & (F.levenshtein(F.col("term"), F.lit(t)) <= leaf.fuzzy)
                )
            rows = (
                idx.terms.filter(cond)
                .select("term")
                .orderBy("term")
                .limit(PREFIX_MAX_EXPANSIONS)
                .collect()
            )
            terms.update(r["term"] for r in rows)
        return sorted(terms)

    return exp


def _tf_norm(tf_col: Column, doc_len_col: Column, avgdl: float, k1: float, b: float) -> Column:
    tf = tf_col.cast("double")
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * doc_len_col.cast("double") / F.lit(float(avgdl)))
    return tf * F.lit(k1 + 1.0) / (tf + norm)


def _range_cond(leaf: Leaf) -> Column:
    lo, hi, incl_lo, incl_hi = leaf.rng
    cond = F.lit(True)
    if lo is not None:
        cond = cond & ((F.col("term") >= lo) if incl_lo else (F.col("term") > lo))
    if hi is not None:
        cond = cond & ((F.col("term") <= hi) if incl_hi else (F.col("term") < hi))
    return cond


def _range_frame(postings: DataFrame, leaf: Leaf, mult: float = 1.0) -> DataFrame:
    """Scored frame for a lexicographic term-range leaf '[a TO b]':
    CONSTANT score (Lucene/Tantivy range semantics) — a doc containing
    any indexed term inside the range scores boost × 1.0. The term-range
    predicate reaches the postings scan (min/max row-group pruning on the
    term-sorted layout); the distinct is one shuffle over matching docs
    only."""
    return (
        postings.filter(_range_cond(leaf))
        .select("doc_id")
        .distinct()
        .withColumn("score", F.lit(float(leaf.boost) * mult))
    )


def _sloppy_phrase_frame(
    cand: DataFrame, leaf: Leaf, df_map: dict[str, int], stats, k1: float, b: float
) -> DataFrame:
    """Scored frame for ``"a b"~N`` (Leaf.slop > 0): ordered sloppy
    phrase, total-window semantics (queryparse.Leaf docstring). The
    greedy latest-start chain — for each candidate end position of term
    i, the latest possible chain start over predecessors p < q — is
    exact (maximizing the start minimizes the window), and runs entirely
    in JVM higher-order array expressions: no Python in the row path."""
    out = (
        cand.filter(F.col("term") == leaf.terms[0])
        .select("doc_id", F.col("positions").alias("pp"), "doc_len")
        .withColumn("ss", F.col("pp"))
    )
    for nxt in leaf.terms[1:]:
        nxt_df = cand.filter(F.col("term") == nxt).select(
            F.col("doc_id").alias("doc_id_r"), F.col("positions").alias("pos_r")
        )
        out = (
            out.join(nxt_df, out["doc_id"] == nxt_df["doc_id_r"], "inner")
            .drop("doc_id_r")
            .withColumn(
                "ss_new",
                F.expr(
                    "transform(pos_r, q -> aggregate(arrays_zip(pp, ss), -1, "
                    "(acc, x) -> CASE WHEN x.pp < q THEN greatest(acc, x.ss) ELSE acc END))"
                ),
            )
            .withColumn(
                "z", F.expr("filter(arrays_zip(pos_r, ss_new), x -> x.ss_new >= 0)")
            )
            .select(
                "doc_id",
                F.expr("transform(z, x -> x.pos_r)").alias("pp"),
                F.expr("transform(z, x -> x.ss_new)").alias("ss"),
                "doc_len",
            )
            .filter(F.size("pp") > 0)
        )
    max_span = leaf.slop + len(leaf.terms) - 1
    out = out.withColumn(
        "tfp", F.expr(f"size(filter(arrays_zip(pp, ss), x -> x.pp - x.ss <= {max_span}))")
    ).filter(F.col("tfp") > 0)
    idf_sum = sum(idf_py(df_map[t], stats.n_docs) for t in leaf.terms)
    return out.select(
        "doc_id",
        (
            F.lit(idf_sum)
            * _tf_norm(F.col("tfp"), F.col("doc_len"), stats.avgdl, k1, b)
            * F.lit(leaf.boost)
        ).alias("score"),
    )


def _span_near_frame(
    cand: DataFrame, leaf: Leaf, df_map: dict[str, int], stats, k1: float, b: float
) -> DataFrame | None:
    """Scored frame for an UNORDERED span_near leaf (Leaf.near docstring):
    tf = count of merged positions q where the latest at-or-before-q
    occurrence of every clause term fits in a window of slop + n − 1.

    One pass over the doc's merged, position-sorted occurrences — a
    single JVM ``aggregate`` whose state is (latest position per clause,
    tf). Runs entirely in higher-order array expressions like the
    ordered sloppy chain: no Python in the row path, and the n−1
    doc_id joins are the same shape Catalyst already plans for the
    adjacency phrase (sort-merge or broadcast per AQE)."""
    terms = tuple(dict.fromkeys(leaf.terms))  # duplicates collapse (pinned)
    if any(t not in df_map for t in terms):
        return None
    n = len(terms)
    out = cand.filter(F.col("term") == terms[0]).select(
        "doc_id",
        F.expr("transform(positions, p -> struct(CAST(p AS INT) AS pos, 0 AS tid))").alias("occ"),
        "doc_len",
    )
    for i, t in enumerate(terms[1:], start=1):
        nxt = cand.filter(F.col("term") == t).select(
            F.col("doc_id").alias("doc_id_r"),
            F.expr(
                f"transform(positions, p -> struct(CAST(p AS INT) AS pos, {i} AS tid))"
            ).alias("occ_r"),
        )
        out = (
            out.join(nxt, out["doc_id"] == nxt["doc_id_r"], "inner")
            .withColumn("occ", F.concat("occ", "occ_r"))
            .drop("doc_id_r", "occ_r")
        )
    w = leaf.slop + n - 1
    # positions are unique within a doc (one token per position), so the
    # ascending sort gives a strict merged order and x.pos is the window
    # max at each step; `upd` is the per-term latest-occurrence vector
    # after absorbing x.
    upd = "transform(acc.last, (v, i) -> IF(i = x.tid, x.pos, v))"
    out = out.withColumn(
        "tfp",
        F.expr(
            f"""aggregate(
              array_sort(occ),
              named_struct('last', array_repeat(-1, {n}), 'tf', 0),
              (acc, x) -> named_struct(
                'last', {upd},
                'tf', acc.tf + IF(array_min({upd}) >= 0
                                  AND x.pos - array_min({upd}) <= {w}, 1, 0)),
              acc -> acc.tf
            )"""
        ),
    ).filter(F.col("tfp") > 0)
    idf_sum = sum(idf_py(df_map[t], stats.n_docs) for t in terms)
    return out.select(
        "doc_id",
        (
            F.lit(idf_sum)
            * _tf_norm(F.col("tfp"), F.col("doc_len"), stats.avgdl, k1, b)
            * F.lit(leaf.boost)
        ).alias("score"),
    )


def _phrase_frame(
    cand: DataFrame, leaf: Leaf, df_map: dict[str, int], stats, k1: float, b: float
) -> DataFrame | None:
    """(doc_id, tf_phrase, doc_len) for adjacent-position phrase matches
    (slop=0), the sloppy-chain frame when the leaf carries a slop, or the
    unordered span-near frame when the leaf carries the near flag."""
    if leaf.near:
        return _span_near_frame(cand, leaf, df_map, stats, k1, b)
    if any(t not in df_map for t in leaf.terms):
        return None
    if leaf.slop:
        return _sloppy_phrase_frame(cand, leaf, df_map, stats, k1, b)
    first = cand.filter(F.col("term") == leaf.terms[0]).select(
        "doc_id", F.col("positions").alias("pos"), "doc_len"
    )
    out = first
    for nxt in leaf.terms[1:]:
        nxt_df = cand.filter(F.col("term") == nxt).select(
            F.col("doc_id").alias("doc_id_r"), F.col("positions").alias("pos_r")
        )
        out = (
            out.join(nxt_df, out["doc_id"] == nxt_df["doc_id_r"], "inner")
            .withColumn(
                "pos",
                F.array_intersect(F.transform("pos", lambda x: x + 1), F.col("pos_r")),
            )
            .drop("doc_id_r", "pos_r")
            .filter(F.size("pos") > 0)
        )
    idf_sum = sum(idf_py(df_map[t], stats.n_docs) for t in leaf.terms)
    return out.select(
        "doc_id",
        (
            F.lit(idf_sum)
            * _tf_norm(F.size("pos"), F.col("doc_len"), stats.avgdl, k1, b)
            * F.lit(leaf.boost)
        ).alias("score"),
    )


def _term_leaves_frame(
    index: InvertedIndex,
    term_leaves: list[tuple[int, Leaf]],
    df_map: dict[str, int],
    k1: float,
    b: float,
    extra_mult: float = 1.0,
) -> DataFrame | None:
    """ALL term leaves scored in ONE postings scan: each posting row
    explodes into its matching (leaf_id, idf·boost) entries — no
    per-leaf re-scan of the (potentially decoded-from-segments) input."""
    per_term: dict[str, list[tuple[int, float]]] = {}
    for i, leaf in term_leaves:
        t = leaf.terms[0]
        if t in df_map:
            per_term.setdefault(t, []).append(
                (i, idf_py(df_map[t], index.stats.n_docs) * leaf.boost * extra_mult)
            )
    if not per_term:
        return None
    cand = index.postings.filter(F.col("term").isin(list(per_term)))
    chain = None
    for t, entries in per_term.items():
        arr = F.array(
            *[F.struct(F.lit(i).alias("leaf_id"), F.lit(m).alias("mult")) for i, m in entries]
        )
        chain = F.when(F.col("term") == t, arr) if chain is None else chain.when(
            F.col("term") == t, arr
        )
    tf_norm = _tf_norm(F.col("tf"), F.col("doc_len"), index.stats.avgdl, k1, b)
    return cand.select(
        "doc_id", F.explode(chain).alias("lp"), tf_norm.alias("tfn")
    ).select(
        "doc_id",
        F.col("lp.leaf_id").alias("leaf_id"),
        (F.col("lp.mult") * F.col("tfn")).alias("score"),
    )


def _synonym_leaves_frame(
    index: InvertedIndex,
    syn_leaves: list[tuple[int, Leaf]],
    df_map: dict[str, int],
    k1: float,
    b: float,
    extra_mult: float = 1.0,
) -> DataFrame | None:
    """ALL synonym leaves in ONE scan + ONE (doc, leaf) pre-combine —
    Lucene SynonymQuery blended stats: idf from the group's MAX df, tf
    summed per doc across the group's terms, then ONE BM25 contribution.
    The tf sum must happen BEFORE tf normalization (BM25 is nonlinear in
    tf), hence the dedicated groupBy(doc_id, leaf_id) — one extra
    exchange total regardless of how many synonym leaves the query has."""
    per_term: dict[str, list[int]] = {}
    idf_mult: dict[int, float] = {}
    for i, leaf in syn_leaves:
        group = [t for t in leaf.terms if t in df_map]
        if not group:
            continue
        max_df = max(df_map[t] for t in group)
        idf_mult[i] = idf_py(max_df, index.stats.n_docs) * leaf.boost * extra_mult
        for t in group:
            per_term.setdefault(t, []).append(i)
    if not idf_mult:
        return None
    cand = index.postings.filter(F.col("term").isin(list(per_term)))
    chain = None
    for t, ids in per_term.items():
        arr = F.array(*[F.lit(i) for i in ids])
        chain = F.when(F.col("term") == t, arr) if chain is None else chain.when(
            F.col("term") == t, arr
        )
    mult_chain = None
    for i, m in idf_mult.items():
        mult_chain = (
            F.when(F.col("leaf_id") == i, F.lit(m))
            if mult_chain is None
            else mult_chain.when(F.col("leaf_id") == i, F.lit(m))
        )
    summed = (
        cand.select(
            "doc_id", F.explode(chain).alias("leaf_id"), "tf", "doc_len"
        )
        .groupBy("doc_id", "leaf_id")
        .agg(F.sum("tf").alias("tf"), F.first("doc_len").alias("doc_len"))
    )
    return summed.select(
        "doc_id",
        "leaf_id",
        (
            mult_chain * _tf_norm(F.col("tf"), F.col("doc_len"), index.stats.avgdl, k1, b)
        ).alias("score"),
    )


def _df_map(index: InvertedIndex, terms: list[str]) -> dict[str, int]:
    if index.df_map is not None:
        return {t: index.df_map[t] for t in terms if t in index.df_map}
    return {
        r["term"]: r["df"]
        for r in index.terms.filter(F.col("term").isin(terms)).select("term", "df").collect()
    }


def _execute_node(
    node: "Leaf | BoolNode",
    cand: DataFrame,
    df_map: dict[str, int],
    index: InvertedIndex,
    all_docs,
    k1: float,
    b: float,
    msm: int = 0,
) -> DataFrame | None:
    """Recursive boolean execution for nested plans → DataFrame(doc_id,
    score) of MATCHING docs, or None when the node can't match anything
    (absent term). Lucene/Tantivy BooleanQuery semantics per level.
    ``msm`` (minimumNumberShouldMatch) applies at THIS level only — the
    engine-level parameter targets the top-level boolean, as Lucene's
    does; recursive calls pass 0."""
    spark = cand.sparkSession
    stats = index.stats
    if isinstance(node, Leaf):
        if node.rng is not None:
            return _range_frame(index.postings, node)
        if node.is_phrase:
            return _phrase_frame(cand, node, df_map, stats, k1, b)
        if node.synonym:
            group = [t for t in node.terms if t in df_map]
            if not group:
                return None
            idf = idf_py(max(df_map[t] for t in group), stats.n_docs)
            return (
                cand.filter(F.col("term").isin(group))
                .groupBy("doc_id")
                .agg(F.sum("tf").alias("tf"), F.first("doc_len").alias("doc_len"))
                .select(
                    "doc_id",
                    (
                        F.lit(idf)
                        * _tf_norm(F.col("tf"), F.col("doc_len"), stats.avgdl, k1, b)
                        * F.lit(node.boost)
                    ).alias("score"),
                )
            )
        t = node.terms[0]
        if t not in df_map:
            return None
        idf = idf_py(df_map[t], stats.n_docs)
        return cand.filter(F.col("term") == t).select(
            "doc_id",
            (
                F.lit(idf) * _tf_norm(F.col("tf"), F.col("doc_len"), stats.avgdl, k1, b)
                * F.lit(node.boost)
            ).alias("score"),
        )

    musts, shoulds, nots = [], [], []
    for ci, (occ, child) in enumerate(node.children):
        f = _execute_node(child, cand, df_map, index, all_docs, k1, b)
        if occ == "must":
            if f is None:
                return spark.createDataFrame([], "doc_id long, score double")
            musts.append(f)
        elif occ == "must_not":
            if f is not None:
                nots.append(f)
        else:
            if f is not None:
                shoulds.append(f.select("doc_id", "score", F.lit(ci).alias("_ci")))

    # Lucene BooleanWeight: minimumNumberShouldMatch above the number of
    # live optional clauses → nothing can match (null scorers — absent
    # terms — are excluded from the optional list)
    if msm > len(shoulds):
        return spark.createDataFrame([], "doc_id long, score double")

    def _sum_shoulds(frames: list[DataFrame]) -> DataFrame:
        # deterministic f64 fold: sort by child index before summing, the
        # same trick as the flat combiner's array_sort(collect_list(...));
        # msm > 0 filters on the distinct-child count derived from the
        # SAME collected array (a projection — no second aggregate, no
        # Expand, no extra shuffle)
        out = (
            reduce(DataFrame.unionByName, frames)
            .groupBy("doc_id")
            .agg(F.array_sort(F.collect_list(F.struct("_ci", "score"))).alias("parts"))
        )
        if msm > 0:
            out = out.filter(
                F.size(F.array_distinct(F.transform("parts", lambda p: p["_ci"]))) >= msm
            )
        return out.select(
            "doc_id",
            F.aggregate(
                "parts", F.lit(0.0), lambda acc, p: acc + p["score"]
            ).alias("score"),
        )

    if musts:
        base = musts[0]
        for i, f in enumerate(musts[1:], 1):
            nxt = f.select(
                F.col("doc_id"), F.col("score").alias(f"_s{i}")
            )
            base = base.join(nxt, "doc_id", "inner").select(
                "doc_id", (F.col("score") + F.col(f"_s{i}")).alias("score")
            )
        if shoulds:
            opt = _sum_shoulds(shoulds).withColumnRenamed("score", "_opt")
            # msm > 0: the should gate is REQUIRED, so the optional sum
            # becomes an inner join (a doc matching only the musts is out)
            base = base.join(opt, "doc_id", "left" if msm == 0 else "inner").select(
                "doc_id",
                (F.col("score") + F.coalesce(F.col("_opt"), F.lit(0.0))).alias("score"),
            )
    elif shoulds:
        base = _sum_shoulds(shoulds)
    elif nots:
        # NOT-only group: pinned divergence — AllQuery minus exclusions
        base = all_docs()
    else:
        return None
    for f in nots:
        base = base.join(f.select("doc_id"), "doc_id", "left_anti")
    return base


def execute_plan(
    index: InvertedIndex,
    plan: QueryPlan,
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
    min_should_match: int = 0,
) -> DataFrame:
    """Boolean-combine the plan into DataFrame(doc_id, score).

    ``min_should_match`` — Lucene BooleanQuery.setMinimumNumberShouldMatch
    applied to the TOP-LEVEL boolean (0 = off): a doc must match ≥ that
    many distinct should clauses besides satisfying every must / no
    must_not; scoring is unchanged. Pinned Lucene edge: a value above the
    number of live should clauses matches nothing (even with musts);
    AllQuery has no boolean → the parameter is ignored."""
    spark = index.postings.sparkSession
    if any(l.prefix_last or l.fuzzy or l.regex for l in plan.leaves):
        raise ValueError(
            "plan contains unexpanded prefix/fuzzy leaves — run "
            "queryparse.expand_plan with the index dictionary first "
            "(search()/search_fields() does this)"
        )
    msm = max(0, int(min_should_match))
    musts, shoulds, must_nots = set(plan.musts), set(plan.shoulds), set(plan.must_nots)
    if msm and plan.root is None and not plan.is_all and msm > len(shoulds):
        return spark.createDataFrame([], "doc_id long, score double")

    def all_docs() -> DataFrame:
        if docs is None:
            return index.postings.select("doc_id").distinct().withColumn("score", F.lit(1.0))
        return docs.select(F.col(id_col).cast("long").alias("doc_id")).withColumn(
            "score", F.lit(1.0)
        )

    if plan.is_all:
        return all_docs()  # AllQuery, score 1.0 (src/db/search.rs:115-117,146-149)

    if plan.root is not None:
        # nested boolean grouping: recursive combine over the same
        # term-pruned candidate scan
        all_terms_n = plan.all_terms()
        df_map_n = _df_map(index, all_terms_n)
        cand_n = index.postings.filter(F.col("term").isin(all_terms_n))
        out = _execute_node(plan.root, cand_n, df_map_n, index, all_docs, k1, b, msm=msm)
        if out is None:
            return spark.createDataFrame([], "doc_id long, score double")
        return out

    all_terms = plan.all_terms()
    df_map = _df_map(index, all_terms)
    cand = index.postings.filter(F.col("term").isin(all_terms))

    term_leaves = [
        (i, l)
        for i, l in enumerate(plan.leaves)
        if not l.is_phrase and l.rng is None and not l.synonym
    ]
    syn_leaves = [(i, l) for i, l in enumerate(plan.leaves) if l.synonym]
    phrase_leaves = [(i, l) for i, l in enumerate(plan.leaves) if l.is_phrase]
    range_leaves = [(i, l) for i, l in enumerate(plan.leaves) if l.rng is not None]

    # A Must leaf on an absent term means nothing can match (a synonym
    # group's members are alternatives — dead only when ALL are absent).
    for i, leaf in enumerate(plan.leaves):
        dead = (
            all(t not in df_map for t in leaf.terms)
            if leaf.synonym
            else any(t not in df_map for t in leaf.terms)
        )
        if i in musts and dead:
            return spark.createDataFrame([], "doc_id long, score double")

    if (
        len(plan.leaves) == 1
        and not plan.leaves[0].is_phrase
        and plan.leaves[0].rng is None
        and not plan.leaves[0].synonym
        and not must_nots
    ):
        # single-term fast path: one posting row per doc, nothing to
        # combine — skip the leaf-explode + groupBy(doc_id) shuffle
        # entirely (score-identical: the fold over one element is the
        # element). Saves a whole stage on the most common query shape.
        leaf = plan.leaves[0]
        t = leaf.terms[0]
        if t not in df_map:
            return spark.createDataFrame([], "doc_id long, score double")
        idf = idf_py(df_map[t], index.stats.n_docs)
        return cand.filter(F.col("term") == t).select(
            "doc_id",
            (
                F.lit(idf)
                * _tf_norm(F.col("tf"), F.col("doc_len"), index.stats.avgdl, k1, b)
                * F.lit(leaf.boost)
            ).alias("score"),
        )

    frames: list[DataFrame] = []
    fused = _term_leaves_frame(index, term_leaves, df_map, k1, b)
    if fused is not None:
        frames.append(fused)
    if syn_leaves:
        sf = _synonym_leaves_frame(index, syn_leaves, df_map, k1, b)
        if sf is not None:
            frames.append(sf)
    for i, leaf in phrase_leaves:
        pf = _phrase_frame(cand, leaf, df_map, index.stats, k1, b)
        if pf is not None:
            frames.append(pf.select("doc_id", F.lit(i).alias("leaf_id"), "score"))
    for i, leaf in range_leaves:
        frames.append(
            _range_frame(index.postings, leaf).select(
                "doc_id", F.lit(i).alias("leaf_id"), "score"
            )
        )

    plan_has_positive = any(i not in must_nots for i in range(len(plan.leaves)))
    live_leaf_ids = {
        i
        for i, l in enumerate(plan.leaves)
        if (
            any(t in df_map for t in l.terms)
            if l.synonym
            else all(t in df_map for t in l.terms)
        )
    }
    if not plan_has_positive:
        base = all_docs()  # pinned divergence: NOT-only query = AllQuery minus exclusions
        for i in must_nots & live_leaf_ids:
            leaf = plan.leaves[i]
            if leaf.rng is not None:
                excl = _range_frame(index.postings, leaf)
            elif leaf.is_phrase:
                excl = _phrase_frame(cand, leaf, df_map, index.stats, k1, b)
            elif leaf.synonym:
                excl = cand.filter(F.col("term").isin(list(leaf.terms)))
            else:
                excl = cand.filter(F.col("term") == leaf.terms[0])
            base = base.join(excl.select("doc_id"), "doc_id", "left_anti")
        return base
    if not frames or not (live_leaf_ids - must_nots):
        # positive leaves exist but all reference absent terms → no match
        return spark.createDataFrame([], "doc_id long, score double")

    return _combine_frames(frames, musts, must_nots, msm=msm, should_ids=tuple(sorted(shoulds)))


def _leaf_frame_fields(
    leaf: Leaf,
    indexes: dict[str, InvertedIndex],
    df_maps: dict[str, dict[str, int]],
    cands: dict[str, DataFrame],
    k1: float,
    b: float,
    boosts: dict[str, float],
    tie_breaker: float | None = None,
) -> DataFrame | None:
    """One leaf scored across its applicable fields (its own field when
    qualified, every field otherwise); per-field scores sum in field
    order (deterministic f64 fold), or — with ``tie_breaker`` — combine
    as Lucene DisjunctionMax: max + tie_breaker × (sum − max).
    None = dead in every field."""
    frames: list[DataFrame] = []
    for fi, (f, idx) in enumerate(indexes.items()):
        if leaf.fld not in (None, f):
            continue
        dm = df_maps[f]
        if leaf.synonym:
            if all(t not in dm for t in leaf.terms):
                continue
        elif any(t not in dm for t in leaf.terms):
            continue
        mult = boosts.get(f, 1.0)
        if leaf.synonym:
            sf = _synonym_leaves_frame(idx, [(0, leaf)], dm, k1, b, extra_mult=mult)
            if sf is not None:
                frames.append(sf.select("doc_id", "score", F.lit(fi).alias("_ci")))
            continue
        if leaf.rng is not None:
            frames.append(
                _range_frame(idx.postings, leaf, mult).select(
                    "doc_id", "score", F.lit(fi).alias("_ci")
                )
            )
        elif leaf.is_phrase:
            pf = _phrase_frame(cands[f], leaf, dm, idx.stats, k1, b)
            if pf is None:
                continue
            frames.append(
                pf.select(
                    "doc_id",
                    (F.col("score") * F.lit(mult)).alias("score"),
                    F.lit(fi).alias("_ci"),
                )
            )
        else:
            t = leaf.terms[0]
            idf = idf_py(dm[t], idx.stats.n_docs)
            frames.append(
                cands[f]
                .filter(F.col("term") == t)
                .select(
                    "doc_id",
                    (
                        F.lit(idf)
                        * _tf_norm(F.col("tf"), F.col("doc_len"), idx.stats.avgdl, k1, b)
                        * F.lit(leaf.boost * mult)
                    ).alias("score"),
                    F.lit(fi).alias("_ci"),
                )
            )
    if not frames:
        return None
    if len(frames) == 1:
        return frames[0].drop("_ci")
    agg = (
        reduce(DataFrame.unionByName, frames)
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("_ci", "score"))).alias("parts"))
    )
    if tie_breaker is None:
        score = F.aggregate("parts", F.lit(0.0), lambda acc, p: acc + p["score"])
    else:
        ss = F.aggregate("parts", F.lit(0.0), lambda acc, p: acc + p["score"])
        mx = F.array_max(F.transform("parts", lambda p: p["score"]))
        score = mx + F.lit(float(tie_breaker)) * (ss - mx)
    return agg.select("doc_id", score.alias("score"))


def _execute_node_fields(
    node: "Leaf | BoolNode",
    indexes: dict[str, InvertedIndex],
    df_maps: dict[str, dict[str, int]],
    cands: dict[str, DataFrame],
    all_docs,
    k1: float,
    b: float,
    boosts: dict[str, float],
    msm: int = 0,
    tie_breaker: float | None = None,
) -> DataFrame | None:
    """Nested boolean execution over multiple fields — the multi-field
    mirror of _execute_node (a leaf matches in ANY applicable field,
    scores sum across fields; boolean combine per level is identical).
    ``msm`` applies at this level only (top-level call), as in
    _execute_node. ``tie_breaker`` — DisjunctionMax cross-field fold at
    every leaf (see _leaf_frame_fields)."""
    spark = next(iter(indexes.values())).postings.sparkSession
    if isinstance(node, Leaf):
        return _leaf_frame_fields(
            node, indexes, df_maps, cands, k1, b, boosts, tie_breaker=tie_breaker
        )

    musts, shoulds, nots = [], [], []
    for ci, (occ, child) in enumerate(node.children):
        f = _execute_node_fields(
            child, indexes, df_maps, cands, all_docs, k1, b, boosts,
            tie_breaker=tie_breaker,
        )
        if occ == "must":
            if f is None:
                return spark.createDataFrame([], "doc_id long, score double")
            musts.append(f)
        elif occ == "must_not":
            if f is not None:
                nots.append(f)
        else:
            if f is not None:
                shoulds.append(f.select("doc_id", "score", F.lit(ci).alias("_ci")))

    if msm > len(shoulds):
        return spark.createDataFrame([], "doc_id long, score double")

    def _sum_shoulds(frames: list[DataFrame]) -> DataFrame:
        out = (
            reduce(DataFrame.unionByName, frames)
            .groupBy("doc_id")
            .agg(F.array_sort(F.collect_list(F.struct("_ci", "score"))).alias("parts"))
        )
        if msm > 0:
            out = out.filter(
                F.size(F.array_distinct(F.transform("parts", lambda p: p["_ci"]))) >= msm
            )
        return out.select(
            "doc_id",
            F.aggregate("parts", F.lit(0.0), lambda acc, p: acc + p["score"]).alias(
                "score"
            ),
        )

    if musts:
        base = musts[0]
        for i, f in enumerate(musts[1:], 1):
            nxt = f.select(F.col("doc_id"), F.col("score").alias(f"_s{i}"))
            base = base.join(nxt, "doc_id", "inner").select(
                "doc_id", (F.col("score") + F.col(f"_s{i}")).alias("score")
            )
        if shoulds:
            opt = _sum_shoulds(shoulds).withColumnRenamed("score", "_opt")
            base = base.join(opt, "doc_id", "left" if msm == 0 else "inner").select(
                "doc_id",
                (F.col("score") + F.coalesce(F.col("_opt"), F.lit(0.0))).alias("score"),
            )
    elif shoulds:
        base = _sum_shoulds(shoulds)
    elif nots:
        base = all_docs()
    else:
        return None
    for f in nots:
        base = base.join(f.select("doc_id"), "doc_id", "left_anti")
    return base


def execute_plan_fields(
    indexes: dict[str, InvertedIndex],
    plan: QueryPlan,
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
    field_boosts: dict[str, float] | None = None,
    min_should_match: int = 0,
    tie_breaker: float | None = None,
) -> DataFrame:
    """Multi-field boolean combine (Q9): the reference queries over
    ``[text, name]`` (/root/reference/src/db/search.rs:108-112) — a doc
    satisfies a leaf if it matches in ANY field; leaf scores sum across
    fields with per-field stats (Lucene/Tantivy multi-field semantics).
    ``min_should_match``: see execute_plan — a should clause counts as
    matched when it matches in ANY field.
    ``tie_breaker`` — Lucene DisjunctionMaxQuery / ES multi_match
    best_fields: each leaf's per-field scores combine as
    max + tie_breaker × (sum − max) instead of summing (tie_breaker=0 is
    pure dis_max; 1.0 reproduces the sum semantics exactly)."""
    first = next(iter(indexes.values()))
    spark = first.postings.sparkSession
    if any(l.prefix_last or l.fuzzy or l.regex for l in plan.leaves):
        raise ValueError(
            "plan contains unexpanded prefix/fuzzy leaves — run "
            "queryparse.expand_plan with the index dictionary first "
            "(search()/search_fields() do this)"
        )
    msm = max(0, int(min_should_match))
    musts, must_nots = set(plan.musts), set(plan.must_nots)
    shoulds_set = set(plan.shoulds)
    if msm and plan.root is None and not plan.is_all and msm > len(shoulds_set):
        return spark.createDataFrame([], "doc_id long, score double")
    boosts = field_boosts or {}

    def all_docs() -> DataFrame:
        if docs is not None:
            return docs.select(F.col(id_col).cast("long").alias("doc_id")).withColumn(
                "score", F.lit(1.0)
            )
        return (
            reduce(
                DataFrame.unionByName,
                [idx.postings.select("doc_id") for idx in indexes.values()],
            )
            .distinct()
            .withColumn("score", F.lit(1.0))
        )

    if plan.is_all:
        return all_docs()

    all_terms = plan.all_terms()
    df_maps = {f: _df_map(idx, all_terms) for f, idx in indexes.items()}

    if plan.root is not None:
        # nested boolean grouping across fields ('name:(a OR b) AND c')
        cands = {
            f: idx.postings.filter(F.col("term").isin(all_terms))
            for f, idx in indexes.items()
        }
        out = _execute_node_fields(
            plan.root, indexes, df_maps, cands, all_docs, k1, b, boosts, msm=msm,
            tie_breaker=tie_breaker,
        )
        if out is None:
            return spark.createDataFrame([], "doc_id long, score double")
        return out

    term_leaves = [
        (i, l)
        for i, l in enumerate(plan.leaves)
        if not l.is_phrase and l.rng is None and not l.synonym
    ]
    syn_leaves = [(i, l) for i, l in enumerate(plan.leaves) if l.synonym]
    phrase_leaves = [(i, l) for i, l in enumerate(plan.leaves) if l.is_phrase]
    range_leaves = [(i, l) for i, l in enumerate(plan.leaves) if l.rng is not None]

    def live_in_any_field(leaf: Leaf) -> bool:
        # a field-qualified leaf ('name:foo') lives only in its field;
        # a synonym group is live when ANY member is (members are
        # alternatives)
        def live_in(dm) -> bool:
            if leaf.synonym:
                return any(t in dm for t in leaf.terms)
            return all(t in dm for t in leaf.terms)

        if leaf.fld is not None:
            dm = df_maps.get(leaf.fld)
            return dm is not None and live_in(dm)
        return any(live_in(dm) for dm in df_maps.values())

    for i, leaf in enumerate(plan.leaves):
        if i in musts and not live_in_any_field(leaf):
            return spark.createDataFrame([], "doc_id long, score double")

    frames: list[DataFrame] = []
    for f, idx in indexes.items():
        fused = _term_leaves_frame(
            idx,
            [(i, l) for i, l in term_leaves if l.fld in (None, f)],
            df_maps[f],
            k1,
            b,
            extra_mult=boosts.get(f, 1.0),
        )
        if fused is not None:
            frames.append(fused)
        syn_here = [(i, l) for i, l in syn_leaves if l.fld in (None, f)]
        if syn_here:
            sf = _synonym_leaves_frame(
                idx, syn_here, df_maps[f], k1, b, extra_mult=boosts.get(f, 1.0)
            )
            if sf is not None:
                frames.append(sf)
        cand = idx.postings.filter(F.col("term").isin(all_terms))
        for i, leaf in phrase_leaves:
            if leaf.fld not in (None, f):
                continue
            pf = _phrase_frame(cand, leaf, df_maps[f], idx.stats, k1, b)
            if pf is not None:
                mult = boosts.get(f, 1.0)
                frames.append(
                    pf.select(
                        "doc_id",
                        F.lit(i).alias("leaf_id"),
                        (F.col("score") * F.lit(mult)).alias("score"),
                    )
                )
        for i, leaf in range_leaves:
            if leaf.fld not in (None, f):
                continue
            frames.append(
                _range_frame(idx.postings, leaf, boosts.get(f, 1.0)).select(
                    "doc_id", F.lit(i).alias("leaf_id"), "score"
                )
            )

    plan_has_positive = any(i not in must_nots for i in range(len(plan.leaves)))
    live_leaf_ids = {i for i, l in enumerate(plan.leaves) if live_in_any_field(l)}
    if not plan_has_positive:
        base = all_docs()
        for f, idx in indexes.items():
            cand = idx.postings.filter(F.col("term").isin(all_terms))
            for i in must_nots:
                leaf = plan.leaves[i]
                if leaf.fld not in (None, f):
                    continue
                if not all(t in df_maps[f] for t in leaf.terms):
                    continue
                if leaf.rng is not None:
                    excl = _range_frame(idx.postings, leaf)
                elif leaf.is_phrase:
                    excl = _phrase_frame(cand, leaf, df_maps[f], idx.stats, k1, b)
                else:
                    excl = cand.filter(F.col("term") == leaf.terms[0])
                if excl is not None:
                    base = base.join(excl.select("doc_id"), "doc_id", "left_anti")
        return base
    if not frames or not (live_leaf_ids - must_nots):
        return spark.createDataFrame([], "doc_id long, score double")

    return _combine_frames(
        frames, musts, must_nots, msm=msm, should_ids=tuple(sorted(shoulds_set)),
        tie_breaker=tie_breaker,
    )


def _combine_frames(
    frames: list[DataFrame],
    musts: set[int],
    must_nots: set[int],
    msm: int = 0,
    should_ids: tuple = (),
    tie_breaker: float | None = None,
) -> DataFrame:
    """Shared boolean combine: one shuffle; deterministic score fold.

    ``msm`` > 0 adds Lucene's minimumNumberShouldMatch gate: keep only
    docs matching ≥ msm DISTINCT should clauses (``should_ids``). The
    count is derived from the already-collected ``parts`` array as a
    pure projection — a second count_distinct aggregate would trigger
    Spark's multi-distinct Expand plan and an extra shuffle.

    ``tie_breaker`` switches the per-leaf CROSS-FIELD fold from sum to
    Lucene DisjunctionMax: a leaf's parts (one per matching field, same
    leaf_id) combine as max + tie_breaker × (sum − max); leaves then sum
    as usual. tie_breaker=1.0 reproduces the sum fold exactly (pinned in
    tests). Pure projection over the already-collected parts array — no
    extra aggregate, plan-identical to the sum path."""
    union = reduce(DataFrame.unionByName, frames)
    must_ids = sorted(musts)
    mustnot_arr = F.array(*[F.lit(i) for i in sorted(must_nots)]) if must_nots else None
    agg = union.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("leaf_id", "score"))).alias("parts"),
        F.count_distinct(
            F.when(F.col("leaf_id").isin(must_ids) if must_ids else F.lit(False), F.col("leaf_id"))
        ).alias("must_cnt"),
        (
            F.max(F.when(F.col("leaf_id").isin(sorted(must_nots)), 1).otherwise(0))
            if must_nots
            else F.max(F.lit(0))
        ).alias("excl"),
    )
    scoring = (
        F.filter("parts", lambda p: ~F.array_contains(mustnot_arr, p["leaf_id"]))
        if must_nots
        else F.col("parts")
    )
    out = agg.filter((F.col("must_cnt") == len(musts)) & (F.col("excl") == 0))
    if msm > 0:
        should_arr = F.array(*[F.lit(i) for i in sorted(should_ids)])
        should_cnt = F.size(
            F.array_distinct(
                F.transform(
                    F.filter("parts", lambda p: F.array_contains(should_arr, p["leaf_id"])),
                    lambda p: p["leaf_id"],
                )
            )
        )
        out = out.filter(should_cnt >= msm)
    if tie_breaker is None:
        score = F.aggregate(scoring, F.lit(0.0), lambda acc, p: acc + p["score"])
    else:
        tie = float(tie_breaker)

        def _leaf_dismax(acc, lid):
            ps = F.filter(scoring, lambda p: p["leaf_id"] == lid)
            ss = F.aggregate(ps, F.lit(0.0), lambda a, p: a + p["score"])
            mx = F.array_max(F.transform(ps, lambda p: p["score"]))
            return acc + mx + F.lit(tie) * (ss - mx)

        score = F.aggregate(
            F.array_distinct(F.transform(scoring, lambda p: p["leaf_id"])),
            F.lit(0.0),
            _leaf_dismax,
        )
    return out.withColumn("score", score).select("doc_id", "score")


def search_fields(
    indexes: dict[str, InvertedIndex],
    query_text: str | None,
    k: int = 10,
    offset: int = 0,
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
    mode: str = DEFAULT_MODE,
    k1: float = BM25_K1,
    b: float = BM25_B,
    field_boosts: dict[str, float] | None = None,
    min_should_match: int = 0,
    synonyms: dict | None = None,
    tie_breaker: float | None = None,
) -> DataFrame:
    """Multi-field search entry point (fugu queries [text, name]);
    ``field:`` prefixes resolve against the index names supplied here.
    ``tie_breaker`` — DisjunctionMax cross-field scoring (see
    execute_plan_fields)."""
    plan = parse_query(query_text, mode=mode, fields=frozenset(indexes))
    plan = expand_plan(plan, dict_expander(indexes))
    if synonyms:
        from .queryparse import apply_synonyms

        plan = apply_synonyms(plan, synonyms, mode=mode)
    scored = execute_plan_fields(
        indexes, plan, docs=docs, id_col=id_col, k1=k1, b=b, field_boosts=field_boosts,
        min_should_match=min_should_match, tie_breaker=tie_breaker,
    )
    return top_k(scored, k=k, offset=offset)


def combined_fields_search(
    indexes: dict[str, InvertedIndex],
    query_text: str,
    weights: dict[str, float] | None = None,
    k: int = 10,
    offset: int = 0,
    operator: str = "or",
    mode: str = DEFAULT_MODE,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Lucene ``CombinedFieldQuery`` / ES ``combined_fields`` — BM25F-
    style scoring that treats the fields as ONE virtual field
    (documented extension; public semantics from the Lucene class and
    the BM25F paper it implements):

    - tf(t, d)   = Σ_f w_f · tf_f(t, d)
    - len(d)     = Σ_f w_f · len_f(d); avgdl = Σ_f w_f · avgdl_f
      (fields are built over the SAME corpus, so the per-field means
      blend linearly — asserted below)
    - df(t)      = |{d : t appears in ANY field}|
    - one BM25 pass over those pseudo-stats.

    This is term-centric blending — fundamentally different from Q9
    multi-field sum and dis_max, which score fields independently and
    combine AFTER the nonlinearity. Like ES, all fields must share the
    analysis chain and only flat bare-term queries are accepted
    (``+term`` musts and ``operator="and"`` gate on matched terms).

    Scale shape: per-field postings are pre-filtered to the query's
    terms (dictionary-pruned scans), the tf blend and the per-doc
    combine are the only data shuffles, and df is a broadcast-joined
    |terms|-row aggregate. The combined norm len(d) is aggregated from
    the per-field postings at query time in this table-native form; the
    segment path stores per-doc lengths as a sidecar, where the blend
    is a precomputed column (Lucene precomputes norms identically)."""
    if not indexes:
        raise ValueError("combined_fields_search needs ≥1 field index")
    w = {f: 1.0 for f in indexes}
    for f, v in (weights or {}).items():
        if f not in indexes:
            raise ValueError(f"unknown field {f!r}")
        if v < 1.0:
            raise ValueError("combined_fields weights must be ≥ 1 (Lucene rule)")
        w[f] = float(v)
    plan = parse_query(query_text, mode=mode, fields=frozenset(indexes))
    if plan.is_all or plan.root is not None:
        raise ValueError("combined_fields supports flat bare-term queries")
    terms: list[str] = []
    musts: list[str] = []
    for leaf in plan.leaves:
        if (
            leaf.is_phrase
            or leaf.prefix_last
            or leaf.fuzzy
            or leaf.regex
            or leaf.rng is not None
            or leaf.fld is not None
            or leaf.synonym
            or leaf.occur == "must_not"
            or len(leaf.terms) != 1
        ):
            raise ValueError(
                "combined_fields supports flat bare-term queries "
                "(the ES combined_fields restriction)"
            )
        terms.append(leaf.terms[0])
        if leaf.occur == "must":
            musts.append(leaf.terms[0])
    terms = list(dict.fromkeys(terms))
    n_set = {idx.n_docs for idx in indexes.values()}
    if len(n_set) != 1:
        raise ValueError("all field indexes must cover the same corpus")
    n_docs = n_set.pop()
    avgdl_c = sum(w[f] * idx.avgdl for f, idx in indexes.items())

    upost = reduce(
        lambda a, bdf: a.unionByName(bdf),
        [
            idx.postings.filter(F.col("term").isin(terms)).select(
                "term",
                "doc_id",
                (F.col("tf").cast("double") * F.lit(w[f])).alias("wtf"),
            )
            for f, idx in indexes.items()
        ],
    )
    tfc = upost.groupBy("term", "doc_id").agg(F.sum("wtf").alias("tf_c"))
    dfc = tfc.groupBy("term").agg(F.count(F.lit(1)).alias("df_c"))
    lens = (
        reduce(
            lambda a, bdf: a.unionByName(bdf),
            [
                idx.postings.select("doc_id", "doc_len")
                .distinct()
                .select(
                    "doc_id",
                    (F.col("doc_len").cast("double") * F.lit(w[f])).alias("wlen"),
                )
                for f, idx in indexes.items()
            ],
        )
        .groupBy("doc_id")
        .agg(F.sum("wlen").alias("len_c"))
    )
    idf = F.log(
        F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df_c") + 0.5) / (F.col("df_c") + 0.5)
    )
    tfn = (
        F.col("tf_c")
        * (k1 + 1.0)
        / (F.col("tf_c") + k1 * (1.0 - b + b * F.col("len_c") / F.lit(avgdl_c)))
    )
    per_doc = (
        tfc.join(F.broadcast(dfc), "term")
        .join(lens, "doc_id")
        .select("doc_id", "term", (idf * tfn).alias("sc"))
        .groupBy("doc_id")
        .agg(F.sum("sc").alias("score"), F.collect_set("term").alias("_mt"))
    )
    need = terms if operator == "and" else musts
    if need:
        per_doc = per_doc.filter(
            F.size(F.array_intersect(F.col("_mt"), F.array(*[F.lit(t) for t in need])))
            == len(set(need))
        )
    return top_k(per_doc.select("doc_id", "score"), k=k, offset=offset)


def cap_top_k(
    k: int | None, offset: int, n_docs: int, plan: QueryPlan, docs: DataFrame | None
) -> tuple[int | None, int]:
    """Cap a page at the index's document count (maxDoc), as Lucene's
    IndexSearcher caps numHits: no query returns more rows than the index
    holds docs. Spark's top-k (TakeOrderedAndProject → Guava TopKSelector)
    allocates a 2·limit buffer per task before it reads a row, so an
    uncapped ``k=10**9`` costs GBs of heap per task; capped, top-k memory
    follows ``min(offset + k, n_docs)``. Returns ``(k, offset)`` with
    ``offset + k <= max(n_docs, 1)``; a page that starts past the last doc
    keeps an empty window. ``k=None`` (full set) and plans whose universe
    is the ``docs`` table (it may hold docs with no postings, which
    ``n_docs`` need not count) are returned unchanged."""
    if k is None or (docs is not None and plan.reads_universe()):
        return k, offset
    cap = max(int(n_docs), 1)
    offset = min(offset, cap)
    return min(k, cap - offset), offset


def top_k(
    scored: DataFrame,
    k: int = 10,
    offset: int = 0,
    search_after: tuple[float, int] | None = None,
) -> DataFrame:
    """Deterministic top-k: (score DESC, doc_id ASC), offset+limit (R2/R3).

    Spark compiles this to TakeOrderedAndProject — a per-partition
    bounded heap with a driver merge, exactly the reference's
    TopDocs::with_limit shape (/root/reference/src/db/search.rs:154-162).

    ``search_after=(score, doc_id)`` is cursor pagination (ES
    search_after / Lucene searchAfter): return the next ``k`` results
    strictly after the cursor in the total order. Page N+1 must equal
    rank-based ``offset = N*k`` paging — pinned in tests — but the plan
    is O(k), not O(offset): the cursor is a plain filter pushed below
    the bounded heap, so every partition ships at most ``k`` rows and
    the driver merges ``partitions × k``, independent of page depth.
    Offset paging ships ``offset + k`` per partition — at page 10^4 of
    a 1000-executor job that is the difference between a working cursor
    sweep and an OOM. Scores are recomputed by the identical plan, so
    float cursor comparisons are exact.
    """
    if search_after is not None:
        if offset:
            raise ValueError("search_after and offset are mutually exclusive")
        s, d = float(search_after[0]), int(search_after[1])
        scored = scored.filter(
            (F.col("score") < F.lit(s))
            | ((F.col("score") == F.lit(s)) & (F.col("doc_id") > F.lit(d)))
        )
    limited = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(offset + k)
    if offset:
        w = F.row_number().over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
        return limited.withColumn("rn", w).filter(F.col("rn") > offset).drop("rn")
    return limited


def top_k_by_field(
    scored: DataFrame,
    docs: DataFrame,
    field: str,
    k: int = 10,
    offset: int = 0,
    ascending: bool = False,
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k of the MATCHED set ordered by a document field instead of
    relevance (Tantivy ``sort_by_field`` / Lucene Sort over a fast
    field) → DataFrame(doc_id, sort_key, score), ties broken doc_id ASC.

    Pinned divergence: Tantivy's field-sorted TopDocs reports the field
    value in place of the score; we keep the BM25 score alongside the
    sort key (strictly more information, same ordering).

    Scale shape: the field join is against the MATCHED set, not the
    corpus — Catalyst prunes the docs scan to (id, field) and AQE
    broadcasts whichever side is small; the ordering compiles to
    TakeOrderedAndProject (bounded per-partition heap + driver merge),
    same as the relevance path."""
    keyed = scored.join(
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"), F.col(field).alias("sort_key")
        ),
        "doc_id",
    )
    order = [
        F.asc_nulls_last("sort_key") if ascending else F.desc_nulls_last("sort_key"),
        F.asc("doc_id"),
    ]
    limited = keyed.orderBy(*order).limit(offset + k).select("doc_id", "sort_key", "score")
    if offset:
        w = F.row_number().over(Window.orderBy(*order))
        return limited.withColumn("rn", w).filter(F.col("rn") > offset).drop("rn")
    return limited


def search(
    index: InvertedIndex,
    query_text: str | None,
    k: int = 10,
    offset: int = 0,
    doc_filter: Column | None = None,
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
    mode: str = DEFAULT_MODE,
    k1: float = BM25_K1,
    b: float = BM25_B,
    min_should_match: int = 0,
    sort_by: str | None = None,
    sort_ascending: bool = False,
    synonyms: dict | None = None,
    search_after: tuple[float, int] | None = None,
) -> DataFrame:
    """Full search entry point → DataFrame(doc_id, score), top-k ordered.

    ``doc_filter`` is a predicate over ``docs`` (facet/metadata filters,
    SURVEY.md §2.5); it is applied via semi-join BEFORE top-k.
    ``min_should_match`` — see execute_plan (Lucene top-level boolean).
    ``sort_by`` — order the matched set by this docs column instead of
    relevance (see top_k_by_field); requires ``docs``.
    ``synonyms`` — {term: [alternatives...]} Lucene SynonymQuery
    rewriting (queryparse.apply_synonyms; blended max-df/summed-tf
    scoring).
    ``search_after`` — (score, doc_id) cursor pagination over the
    relevance order (see top_k); O(k) at any page depth where offset is
    O(offset). Relevance order only (a field-sorted cursor would need
    nulls-last-aware predicates; use offset with sort_by).

    A ``k`` (and ``offset + k``) above the index's document count
    (maxDoc, ``index.stats.n_docs``) is capped to it, so top-k memory
    follows ``min(offset + k, n_docs)``, not ``k``; see cap_top_k.
    """
    plan = parse_query(query_text, mode=mode)
    plan = expand_plan(plan, dict_expander({None: index}))
    if synonyms:
        from .queryparse import apply_synonyms

        plan = apply_synonyms(plan, synonyms, mode=mode)
    k, offset = cap_top_k(k, offset, index.stats.n_docs, plan, docs)
    scored = execute_plan(
        index, plan, docs=docs, id_col=id_col, k1=k1, b=b,
        min_should_match=min_should_match,
    )
    if doc_filter is not None:
        if docs is None:
            raise ValueError("doc_filter requires docs")
        keep = docs.filter(doc_filter).select(F.col(id_col).cast("long").alias("doc_id"))
        scored = scored.join(keep, "doc_id", "left_semi")
    if sort_by is not None:
        if docs is None:
            raise ValueError("sort_by requires docs")
        if search_after is not None:
            raise ValueError("search_after is relevance-order only (no sort_by)")
        return top_k_by_field(
            scored, docs, sort_by, k=k, offset=offset,
            ascending=sort_ascending, id_col=id_col,
        )
    return top_k(scored, k=k, offset=offset, search_after=search_after)
