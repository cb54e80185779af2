"""Structured query DSL: ES-style request dicts → QueryPlan.

The reference accepts raw Tantivy query STRINGS (src/db/search.rs:
108-127); programmatic clients of an ES-family engine instead build the
structured JSON DSL. This module compiles that shape onto the exact
same Leaf/BoolNode plans the string parser produces, so every
downstream path (execution, expansion, serving, batch) is shared and a
DSL query is rank/score-identical to its string twin (pinned in
tests/test_dsl.py).

Supported node types (the subset the engine's plan language expresses):

  {"match":        {FIELD: TEXT}}            analyzed; n tokens → n should term leaves
  {"match_phrase": {FIELD: TEXT, "slop": N}} analyzed phrase (ordered window ≤ slop)
  {"term":         {FIELD: VALUE}}           single analyzed token (error if it splits)
  {"terms":        {FIELD: [V, ...]}}        OR set (the IN-set sugar)
  {"prefix":       {FIELD: "te"}}            dictionary prefix expansion
  {"wildcard":     {FIELD: "t?m*"}}          '?' one char, '*' any run → regex leaf
  {"regexp":       {FIELD: "pat"}}           anchored whole-term regex
  {"fuzzy":        {FIELD: {"value": V, "fuzziness": 1|2}}}
  {"range":        {FIELD: {"gte"/"gt"/"lte"/"lt": V}}}   lexicographic text range
  {"exists":       {"field": NAME}}          docs with any term in NAME (the
                                             string twin of `NAME:*`)
  {"match_bool_prefix": {FIELD: TEXT}}       analyzed; every token a should term
                                             leaf, the LAST a dictionary prefix
                                             (string twin of `a b c*`)
  {"span_near":    {"clauses": [{"span_term": {FIELD: V}}, ...],
                    "slop": N, "in_order": bool}}  proximity: in_order=true is the
                                             ordered sloppy phrase, false (default)
                                             the unordered span_near leaf
  {"bool": {"must": [...], "should": [...], "must_not": [...],
            "minimum_should_match": M}}      M at the TOP level only
  {"match_all": {}}
  {"dis_max"/"function_score"/...}           NOT plan-level — use the engine knobs
                                             (tie_breaker=, resultops.*)

FIELD may be the literal "_all"/None for unqualified leaves (scored in
every default field, like a bare term in the string syntax). A "boost"
key is accepted inside any leaf body. Unknown node types raise — the
DSL is for programs, so the string parser's escape-and-retry fallback
(built for pasted user text) deliberately does not apply.
"""

from __future__ import annotations

import re

from .queryparse import BoolNode, Leaf, QueryPlan
from .tokenizer import DEFAULT_MODE, tokenize_py

__all__ = ["compile_query", "search_dsl"]

_LEAF_TYPES = (
    "match", "match_bool_prefix", "match_phrase", "term", "terms", "prefix",
    "wildcard", "regexp", "fuzzy", "range",
)


def _field_body(node_body: dict):
    """Split {FIELD: body, ...opts} → (field, body, opts). ES nests the
    field name as the single non-option key."""
    opts = {k: v for k, v in node_body.items() if k in ("boost", "slop")}
    rest = {k: v for k, v in node_body.items() if k not in ("boost", "slop")}
    if len(rest) != 1:
        raise ValueError(f"expected exactly one field key, got {sorted(rest)}")
    ((field, body),) = rest.items()
    if field in ("_all", None):
        field = None
    return field, body, opts


def _toks(text, mode: str) -> list[str]:
    return [t for t, _ in tokenize_py(str(text), mode=mode)]


def _one_token(value, mode: str, what: str) -> str:
    ts = _toks(value, mode)
    if len(ts) != 1:
        raise ValueError(f"{what} value {value!r} analyzes to {len(ts)} tokens, need 1")
    return ts[0]


def _wildcard_regex(pat: str) -> str:
    return "".join(
        ".*" if c == "*" else "." if c == "?" else re.escape(c) for c in pat.lower()
    )


def _compile_node(node: dict, occur: str, mode: str) -> list:
    """→ list of (occur, Leaf|BoolNode). A `match` with several tokens
    yields several leaves (ES rewrites match to a boolean of terms)."""
    if not isinstance(node, dict) or len(node) != 1:
        raise ValueError(f"a DSL node is a single-key dict, got {node!r}")
    ((typ, body),) = node.items()

    if typ == "match_all":
        raise ValueError("match_all is only valid as the TOP-LEVEL query")
    if typ == "bool":
        return [(occur, _compile_bool(body, mode))]
    if typ == "span_near":
        return [(occur, _compile_span_near(body, mode, occur))]
    if typ == "exists":
        # ES nests the name under "field", not as a {FIELD: body} key
        if not isinstance(body, dict) or not isinstance(body.get("field"), str):
            raise ValueError('exists expects {"field": NAME}')
        return [(occur, Leaf(terms=(), boost=float(body.get("boost", 1.0)),
                             fld=body["field"], rng=(None, None, True, True)))]
    if typ not in _LEAF_TYPES:
        raise ValueError(f"unsupported DSL node type {typ!r}")

    field, value, opts = _field_body(body)
    boost = float(opts.get("boost", 1.0))
    # ES also allows {"value": ..., "boost": ...} nested under the field
    if isinstance(value, dict) and typ in ("term", "prefix", "wildcard", "regexp"):
        boost = float(value.get("boost", boost))
        value = value.get("value")

    if typ == "match":
        ts = _toks(value, mode)
        if not ts:
            raise ValueError(f"match text {value!r} analyzes to no tokens")
        return [
            (occur, Leaf(terms=(t,), boost=boost, fld=field)) for t in ts
        ]
    if typ == "match_bool_prefix":
        ts = _toks(value, mode)
        if not ts:
            raise ValueError(f"match_bool_prefix text {value!r} analyzes to no tokens")
        leaves = [(occur, Leaf(terms=(t,), boost=boost, fld=field)) for t in ts[:-1]]
        leaves.append(
            (occur, Leaf(terms=(ts[-1],), boost=boost, fld=field, prefix_last=True))
        )
        return leaves
    if typ == "match_phrase":
        ts = _toks(value, mode)
        if not ts:
            raise ValueError(f"phrase text {value!r} analyzes to no tokens")
        return [(occur, Leaf(terms=tuple(ts), boost=boost, fld=field,
                             slop=int(opts.get("slop", 0))))]
    if typ == "term":
        return [(occur, Leaf(terms=(_one_token(value, mode, "term"),),
                             boost=boost, fld=field))]
    if typ == "terms":
        if not isinstance(value, (list, tuple)) or not value:
            raise ValueError("terms expects a non-empty list")
        return [
            (occur, Leaf(terms=(_one_token(v, mode, "terms"),), boost=boost, fld=field))
            for v in value
        ]
    if typ == "prefix":
        return [(occur, Leaf(terms=(str(value).lower(),), boost=boost, fld=field,
                             prefix_last=True))]
    if typ == "wildcard":
        return [(occur, Leaf(terms=(_wildcard_regex(str(value)),), boost=boost,
                             fld=field, regex=True))]
    if typ == "regexp":
        return [(occur, Leaf(terms=(str(value),), boost=boost, fld=field, regex=True))]
    if typ == "fuzzy":
        if isinstance(value, dict):
            fz = int(value.get("fuzziness", 1))
            value = value.get("value")
        else:
            fz = 1
        if fz not in (1, 2):
            raise ValueError("fuzziness must be 1 or 2")
        return [(occur, Leaf(terms=(_one_token(value, mode, "fuzzy"),), boost=boost,
                             fld=field, fuzzy=fz))]
    if typ == "range":
        if not isinstance(value, dict):
            raise ValueError("range expects {gte/gt/lte/lt: value}")
        lo = value.get("gte", value.get("gt"))
        hi = value.get("lte", value.get("lt"))
        rng = (
            None if lo is None else str(lo).lower(),
            None if hi is None else str(hi).lower(),
            "gte" in value,
            "lte" in value,
        )
        return [(occur, Leaf(terms=(), boost=boost, fld=field, rng=rng))]
    raise AssertionError(typ)


def _compile_span_near(body: dict, mode: str, occur: str) -> Leaf:
    """{"span_near": {"clauses": [{"span_term": {F: V}}, ...],
    "slop": N, "in_order": true|false, "boost": B}} → one proximity
    Leaf. ``in_order=true`` maps onto the engine's existing ORDERED
    sloppy-phrase leaf (the "a b"~N semantics — queryparse.Leaf.slop);
    ``in_order=false`` (ES's default) sets Leaf.near, the unordered
    merged-sweep count (Leaf.near docstring). Lucene requires every
    span clause on the same field; so does this compiler."""
    if set(body) - {"clauses", "slop", "in_order", "boost"}:
        raise ValueError(
            f"unsupported span_near keys {sorted(set(body) - {'clauses', 'slop', 'in_order', 'boost'})}"
        )
    clauses = body.get("clauses")
    if not isinstance(clauses, (list, tuple)) or len(clauses) < 2:
        raise ValueError("span_near expects a clauses list of >= 2 span_term nodes")
    terms: list[str] = []
    fields: set = set()
    for c in clauses:
        if not isinstance(c, dict) or len(c) != 1 or "span_term" not in c:
            raise ValueError(f"span_near clause must be a span_term node, got {c!r}")
        f, v, _ = _field_body(c["span_term"])
        fields.add(f)
        terms.append(_one_token(v, mode, "span_term"))
    if len(fields) != 1:
        raise ValueError(f"span_near clauses must share one field, got {sorted(map(str, fields))}")
    slop = int(body.get("slop", 0))
    in_order = bool(body.get("in_order", False))
    return Leaf(
        terms=tuple(terms),
        boost=float(body.get("boost", 1.0)),
        occur=occur,
        slop=slop,
        near=not in_order,
        fld=fields.pop(),
    )


def _compile_bool(body: dict, mode: str) -> BoolNode:
    if set(body) - {"must", "should", "must_not", "minimum_should_match"}:
        raise ValueError(f"unsupported bool keys {sorted(set(body) - {'must', 'should', 'must_not', 'minimum_should_match'})}")
    if "minimum_should_match" in body:
        raise ValueError(
            "minimum_should_match is a TOP-LEVEL knob (Lucene applies it to "
            "the outer boolean) — pass it via search(min_should_match=...) "
            "or search_dsl, not on a nested bool"
        )
    children: list = []
    for occ_key, occ in (("must", "must"), ("should", "should"), ("must_not", "must_not")):
        items = body.get(occ_key, [])
        if isinstance(items, dict):
            items = [items]
        for item in items:
            children.extend(_compile_node(item, occ, mode))
    if not children:
        raise ValueError("empty bool query")
    return BoolNode(children=tuple(children))


def _flatten_leaves(node: BoolNode) -> list[Leaf]:
    out: list[Leaf] = []
    for _, child in node.children:
        if isinstance(child, BoolNode):
            out.extend(_flatten_leaves(child))
        else:
            out.append(child)
    return out


def compile_query(dsl: dict, mode: str = DEFAULT_MODE) -> QueryPlan:
    """Compile an ES-style request dict to a QueryPlan (see module doc).
    The result is exactly what parse_query builds for the equivalent
    string — flat plan when the query is a single boolean level of
    leaves (keeps the flat path's MaxScore pruning eligible), nested
    root otherwise."""
    if not isinstance(dsl, dict) or len(dsl) != 1:
        raise ValueError("a DSL query is a single-key dict, e.g. {'bool': {...}}")
    ((typ, body),) = dsl.items()
    if typ == "match_all":
        return QueryPlan(is_all=True)
    if typ == "bool":
        root = _compile_bool(body, mode)
    else:
        root = BoolNode(children=tuple(_compile_node(dsl, "should", mode)))
    if all(isinstance(c, Leaf) for _, c in root.children):
        # one boolean level of leaves → the string parser's FLAT shape
        leaves = [
            Leaf(terms=c.terms, boost=c.boost, occur=occ, slop=c.slop,
                 prefix_last=c.prefix_last, fuzzy=c.fuzzy, synonym=c.synonym,
                 regex=c.regex, near=c.near, rng=c.rng, fld=c.fld)
            for occ, c in root.children
        ]
        return QueryPlan(leaves=leaves)
    return QueryPlan(leaves=_flatten_leaves(root), root=root)


def search_dsl(index, dsl: dict, k: int = 10, mode: str = DEFAULT_MODE, **kwargs):
    """Execute a DSL query against an InvertedIndex through the standard
    search pipeline (expansion → execute_plan → top_k). A top-level
    bool's ``minimum_should_match`` is lifted to the engine knob. Extra
    kwargs pass to execute_plan/top_k (docs=, k1=, b=, search_after=,
    offset=)."""
    from .queryparse import expand_plan
    from .search import cap_top_k, dict_expander, execute_plan, top_k

    msm = 0
    if len(dsl) == 1 and "bool" in dsl and isinstance(dsl["bool"], dict):
        body = dict(dsl["bool"])
        msm = int(body.pop("minimum_should_match", 0))
        dsl = {"bool": body}
    plan = compile_query(dsl, mode=mode)
    plan = expand_plan(plan, dict_expander({None: index}))
    offset = kwargs.pop("offset", 0)
    search_after = kwargs.pop("search_after", None)
    k, offset = cap_top_k(k, offset, index.stats.n_docs, plan, kwargs.get("docs"))
    scored = execute_plan(index, plan, min_should_match=msm, **kwargs)
    return top_k(scored, k=k, offset=offset, search_after=search_after)
