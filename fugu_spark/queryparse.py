"""Query parsing — string → QueryPlan (SURVEY.md §2.6).

The reference parses with Tantivy's ``QueryParser`` over fields
``[text, name]`` (/root/reference/src/db/search.rs:108-112); the
documented surface (/root/reference/API.md:123-135) is: bare terms,
``"exact phrase"``, ``AND`` / ``OR`` / ``NOT``, and ``term^2`` boosts.
Behaviours reproduced here:

- empty query → AllQuery (/root/reference/src/db/search.rs:115-117)
- parse failure → strip the Tantivy special chars and retry
  (/root/reference/src/db/search.rs:118-126, escape set :603-610)
- each query word is run through the SAME tokenizer as indexing (T5);
  a word that analyzes to multiple tokens becomes a phrase (Tantivy
  parser behaviour), one token → TermQuery, zero → clause dropped
- bare terms default to Should (OR) — fugu never calls
  ``set_conjunction_by_default``; ``a AND b`` marks both as Must,
  ``NOT x`` marks Must-Not (contributes no score, Q4)

Parsing is driver-side Python (queries are tiny); the plan is executed
as a DataFrame graph in :mod:`fugu_spark.search`.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .tokenizer import DEFAULT_MODE, tokenize_py

# Tantivy specials stripped on parse failure (src/db/search.rs:603-610).
ESCAPE_CHARS = set('()[]{}":+-!~*?\\^')

_TOKEN_RE = re.compile(
    r"""
      (?P<psign>[+\-])?(?:(?P<pfield>[A-Za-z_][\w.]*):)?"(?P<phrase>[^"]*)"(?P<pstar>\*)?(?:~(?P<slop>\d+))?(?:\^(?P<pboost>\d+(?:\.\d+)?))?
    | (?P<rsign>[+\-])?(?:(?P<rfield>[A-Za-z_][\w.]*):)?(?P<lo_b>[\[\{])(?P<rlo>[^\s\]\}]+)\s+TO\s+(?P<rhi>[^\s\]\}]+)(?P<rhi_b>[\]\}])(?:\^(?P<rngboost>\d+(?:\.\d+)?))?
    | (?P<xsign>[+\-])?(?:(?P<xfield>[A-Za-z_][\w.]*):)?/(?P<rx>(?:[^/\\\s]|\\.)+)/(?:\^(?P<rxboost>\d+(?:\.\d+)?))?(?=[\s()]|$)
    | (?P<lparen>\()
    | (?P<rparen>\))(?:\^(?P<gboost>\d+(?:\.\d+)?))?
    | (?P<word>[^\s()]+)
    """,
    re.VERBOSE,
)

# 'field: IN [a b c]' — Tantivy's term-set sugar; rewritten (quote-aware)
# to the field-scoped OR group 'field:(a b c)' before tokenization.
_IN_SET_RE = re.compile(
    r"(?P<pre>[+\-]?)(?P<field>[A-Za-z_][\w.]*):\s*IN\s+\[(?P<members>[^\]]*)\]"
)

# Cap on dictionary expansions for 'term*' / '"a b"*' prefix queries —
# Tantivy's PhrasePrefixQuery max_expansions default.
PREFIX_MAX_EXPANSIONS = 50


def _in_quotes(text: str, pos: int) -> bool:
    """True when ``pos`` falls inside a quoted region (odd count of
    preceding unescaped quotes)."""
    return (len(text[:pos].replace('\\"', "").split('"')) - 1) % 2 == 1


def _rewrite_in_sets(query: str) -> str:
    def repl(m: re.Match) -> str:
        if _in_quotes(query, m.start()):
            return m.group(0)
        return f"{m.group('pre')}{m.group('field')}:({m.group('members')})"

    return _IN_SET_RE.sub(repl, query)

_FIELD_WORD_RE = re.compile(r"^([A-Za-z_][\w.]*):(.+)$")


@dataclass(frozen=True)
class Leaf:
    """One scoring leaf: a term or a phrase (terms in order), with boost.

    ``slop`` (phrases only): ``"a b"~N`` — Tantivy's QueryParser accepts
    the slop suffix, so it is reachable through the reference's search
    route (src/db/search.rs:112-118 passes the raw string through).
    Pinned semantics (documented divergence from Lucene's transposition
    counting): an ORDERED sloppy match — strictly ascending positions
    p_1 < … < p_n with total window slack p_n − p_1 − (n−1) ≤ slop;
    tf = number of distinct end positions with such a chain. slop=0
    reduces exactly to the adjacency phrase."""

    terms: tuple[str, ...]
    boost: float = 1.0
    occur: str = "should"  # 'must' | 'should' | 'must_not'
    slop: int = 0
    # 'term*' / '"a b"*': the LAST term is a dictionary prefix. Expanded
    # at execution time (expand_plan) to an OR-group of up to
    # PREFIX_MAX_EXPANSIONS concrete leaves in dictionary order — pinned
    # divergence from Lucene's blended scoring: each expansion scores as
    # a normal term/phrase leaf and a doc matching several sums them.
    prefix_last: bool = False
    # 'term~1' / 'term~2': Tantivy FuzzyTermQuery (Levenshtein edit
    # distance ≤ 1|2, the parser's only accepted distances). Same pinned
    # expansion semantics as prefix_last: an OR-group of dictionary
    # terms within the distance (cap PREFIX_MAX_EXPANSIONS, dictionary
    # order), each BM25-scored — divergence from Lucene's
    # similarity-boosted blending documented here. Single-term leaves
    # only; a fuzzy suffix on a multi-token word stays a plain phrase.
    fuzzy: int = 0
    # Lucene SynonymQuery (set by queryparse.apply_synonyms, never by the
    # parser): ``terms`` holds the whole synonym group, scored as ONE
    # pseudo-term with blended statistics — idf from the group's MAX df,
    # tf = per-doc SUM over the group's terms (Lucene SynonymWeight /
    # SynonymScorer). Group members are alternatives: the leaf is live if
    # ANY member is in the dictionary, and a Must synonym leaf never
    # anchors conjunctive block pruning.
    synonym: bool = False
    # '/pattern/' — Lucene RegexpQuery syntax for Tantivy's programmatic
    # RegexQuery (reachable in the reference only via code, not its
    # parser; surfaced here through Lucene's slash syntax, documented
    # extension). The single entry of ``terms`` is the RAW pattern —
    # not analyzed, not lowercased (Lucene behaviour; index terms are
    # lowercase, so case-sensitive patterns simply miss). Matches the
    # WHOLE term (fullmatch). Expanded at execution time exactly like
    # prefix_last/fuzzy: an OR-group of up to PREFIX_MAX_EXPANSIONS
    # dictionary terms in dictionary order, each BM25-scored.
    regex: bool = False
    # '[a TO b]' / '{a TO b}' over a TEXT field (date fields are extracted
    # pre-parse): (lo, hi, incl_lo, incl_hi), lowercased bounds, None =
    # open side. Pinned Lucene/Tantivy semantics: CONSTANT score — a doc
    # containing any indexed term in the range scores boost × 1.0.
    rng: tuple[str | None, str | None, bool, bool] | None = None
    # Unordered proximity (Lucene SpanNearQuery with in_order=false,
    # reachable only through the structured DSL's span_near node — the
    # string syntax has no spelling for it, matching Lucene's parser).
    # Only meaningful with ≥2 terms; ``slop`` carries the window slack.
    # Pinned semantics (documented divergence from Lucene's span-cover
    # counting): over the doc's merged, position-sorted occurrences of
    # the clause terms, tf = number of positions q such that the LATEST
    # occurrence at-or-before q of every clause term fits in the window
    # q − min(latest) ≤ slop + n − 1. Every Lucene minimal span is
    # counted at its right endpoint exactly once, so matching docs are
    # identical to Lucene's; only the per-doc tf of overlapping matches
    # can differ. Duplicate clause terms collapse to one clause (a
    # single occurrence satisfies both). near=True with slop=0 still
    # means UNORDERED adjacency — it does not reduce to the phrase.
    near: bool = False
    # Field-qualified clause ('name:foo', 'name:"a b"') — Tantivy's
    # QueryParser resolves the prefix against the index schema (the
    # reference's docs schema indexes id/text/namespace/name/… —
    # src/db/schemas.rs:9-17), so qualified terms are reachable through
    # its search route. None = score in every default field. An UNKNOWN
    # field is a parse error, which the reference answers by stripping
    # specials and retrying (src/db/search.rs:118-126) — ':' is in the
    # escape set, so 'lang:es' with no 'lang' field becomes the single
    # term 'langes', exactly like Tantivy+fugu.
    fld: str | None = None

    @property
    def is_phrase(self) -> bool:
        return len(self.terms) > 1 and not self.synonym


@dataclass(frozen=True)
class BoolNode:
    """A parenthesized boolean group: (occur, child) pairs, where a child
    is a Leaf or a nested BoolNode. Lucene/Tantivy BooleanQuery semantics:
    all musts match, shoulds optional when musts exist (score-only) else
    at least one must match, must_nots exclude; score = Σ matching
    children."""

    children: tuple[tuple[str, "Leaf | BoolNode"], ...]


@dataclass
class QueryPlan:
    leaves: list[Leaf] = field(default_factory=list)
    is_all: bool = False  # AllQuery: empty/filters-only (Q8)
    # Non-None when the query used parentheses with nested semantics
    # ('(a OR b) AND c'); `leaves` then holds the FLATTENED leaves (for
    # term enumeration / position needs) and execution walks `root`.
    root: BoolNode | None = None

    @property
    def musts(self) -> list[int]:
        return [i for i, l in enumerate(self.leaves) if l.occur == "must"]

    @property
    def shoulds(self) -> list[int]:
        return [i for i, l in enumerate(self.leaves) if l.occur == "should"]

    @property
    def must_nots(self) -> list[int]:
        return [i for i, l in enumerate(self.leaves) if l.occur == "must_not"]

    def all_terms(self) -> list[str]:
        seen: dict[str, None] = {}
        for leaf in self.leaves:
            for t in leaf.terms:
                seen.setdefault(t)
        return list(seen)

    def has_positive(self) -> bool:
        """Any non-MustNot clause at the TOP level (root-aware: inside a
        nested plan the flattened leaves carry within-group occurs)."""
        if self.root is not None:
            return any(occ != "must_not" for occ, _ in self.root.children)
        return any(l.occur != "must_not" for l in self.leaves)

    def reads_universe(self) -> bool:
        """Whether some clause matches from the doc universe rather than
        from postings: AllQuery, a NOT-only query, or a NOT-only group
        outside a must_not (each runs as all docs minus exclusions), so
        it can return docs that have no postings."""
        if self.is_all or not self.has_positive():
            return True

        def not_only(node: BoolNode) -> bool:
            return all(occ == "must_not" for occ, _ in node.children) or any(
                isinstance(c, BoolNode) and not_only(c)
                for occ, c in node.children
                if occ != "must_not"
            )

        return self.root is not None and not_only(self.root)


class QueryParseError(ValueError):
    pass


def _split_boost(word: str) -> tuple[str, float]:
    m = re.match(r"^(.*?)\^(\d+(?:\.\d+)?)$", word)
    if m and m.group(1):
        return m.group(1), float(m.group(2))
    return word, 1.0


def _flatten(node: "Leaf | BoolNode") -> list[Leaf]:
    if isinstance(node, Leaf):
        return [node]
    out: list[Leaf] = []
    for _, child in node.children:
        out.extend(_flatten(child))
    return out


def _boosted(node: "Leaf | BoolNode", factor: float) -> "Leaf | BoolNode":
    """Group boost '(a b)^2': since scores are sums of leaf scores, a
    group boost distributes as a multiplier on every leaf boost."""
    import dataclasses

    if factor == 1.0:
        return node
    if isinstance(node, Leaf):
        return dataclasses.replace(node, boost=node.boost * factor)
    return BoolNode(tuple((occ, _boosted(c, factor)) for occ, c in node.children))


def _fielded(node: "Leaf | BoolNode", fld: str) -> "Leaf | BoolNode":
    """'field:(a b)' group scope: the prefix distributes onto every leaf
    (leaves already carrying their own field keep it — Tantivy resolves
    inner prefixes first)."""
    import dataclasses

    if isinstance(node, Leaf):
        if node.fld is not None:
            return node
        return dataclasses.replace(node, fld=fld)
    return BoolNode(tuple((occ, _fielded(c, fld)) for occ, c in node.children))


def _resolve_field(name: str | None, fields: frozenset | None) -> str | None:
    """Validate a 'field:' prefix. Unknown field → parse error (Tantivy's
    FieldDoesNotExist), which parse_query answers with the reference's
    escape-and-retry. When the caller supplied no field set (single-index
    search APIs), every prefix is unknown."""
    if name is None:
        return None
    if fields is None or name not in fields:
        raise QueryParseError(f"unknown field: {name}")
    return name


def _parse_group(tokens: list, pos: int, mode: str, depth: int, fields: frozenset | None):
    """Recursive descent over one boolean level → ([(occur, node)], pos).

    Within a level the pinned flat-parser semantics apply: AND upgrades
    BOTH neighbours to Must, NOT marks the next clause MustNot, bare
    clauses default to Should, OR resets."""
    children: list[tuple[str, Leaf | BoolNode]] = []
    pending: str | None = None
    pending_field: str | None = None  # 'field:' immediately before '('

    def upgrade_prev():
        if children and children[-1][0] == "should":
            children[-1] = ("must", children[-1][1])

    while pos < len(tokens):
        kind, val = tokens[pos]
        if kind == "rparen":
            if depth == 0:
                raise QueryParseError("unbalanced parens")
            return children, pos  # caller consumes the ')'
        if kind == "lparen":
            sub, pos = _parse_group(tokens, pos + 1, mode, depth + 1, fields)
            if pos >= len(tokens) or tokens[pos][0] != "rparen":
                raise QueryParseError("unbalanced parens")
            gboost = tokens[pos][1] or 1.0
            if len(sub) == 1 and isinstance(sub[0][1], Leaf):
                # '(x)' ≡ 'x' — keep single-leaf groups flat
                node = _boosted(sub[0][1], gboost)
                if pending_field:
                    node = _fielded(node, pending_field)
                children.append((pending or sub[0][0], node))
            elif sub:
                node = _boosted(BoolNode(tuple(sub)), gboost)
                if pending_field:
                    node = _fielded(node, pending_field)
                children.append((pending or "should", node))
            pending = None
            pending_field = None
            pos += 1
            continue
        if kind == "phrase":
            raw, boost, slop, pfield, pstar, sign = val
            fld = _resolve_field(pfield, fields)
            terms = tuple(t for t, _ in tokenize_py(raw, mode))
            # attached '+'/'-' sign ('-"a b"', '+name:"a b"') wins over
            # any pending operator, Tantivy occur-prefix semantics
            occur = {"+": "must", "-": "must_not"}.get(sign) or pending or "should"
            if terms:
                children.append(
                    (
                        occur,
                        Leaf(
                            terms=terms,
                            boost=boost,
                            # '"a b"*' is a phrase-PREFIX; slop does not
                            # combine with it (Tantivy's PhrasePrefixQuery
                            # has no slop) — star wins
                            slop=slop if len(terms) > 1 and not pstar else 0,
                            fld=fld,
                            prefix_last=pstar,
                        ),
                    )
                )
            pending = None
            pos += 1
            continue
        if kind == "regex":
            pattern, boost, xfield, sign = val
            fld = _resolve_field(xfield, fields)
            # unescape '\/' (the only delimiter escape the syntax needs);
            # a pattern that does not compile is a parse error, which the
            # reference answers by stripping specials and retrying —
            # '/' survives the strip (not in Tantivy's escape set), so
            # the fallback tokenizes the slashed text as ordinary words
            pattern = pattern.replace("\\/", "/")
            try:
                re.compile(pattern)
            except re.error as e:
                raise QueryParseError(f"bad regex {pattern!r}: {e}") from None
            occur = {"+": "must", "-": "must_not"}.get(sign) or pending or "should"
            children.append(
                (occur, Leaf(terms=(pattern,), boost=boost, fld=fld, regex=True))
            )
            pending = None
            pos += 1
            continue
        if kind == "range":
            rfield, lo, hi, incl_lo, incl_hi, boost, sign = val
            fld = _resolve_field(rfield, fields)
            occur = {"+": "must", "-": "must_not"}.get(sign) or pending or "should"
            children.append(
                (
                    occur,
                    Leaf(
                        terms=(),
                        boost=boost,
                        fld=fld,
                        rng=(
                            None if lo == "*" else lo.lower(),
                            None if hi == "*" else hi.lower(),
                            incl_lo,
                            incl_hi,
                        ),
                    ),
                )
            )
            pending = None
            pos += 1
            continue
        word = val
        upper = word.upper()
        if upper == "AND":
            upgrade_prev()
            pending = "must"
            pos += 1
            continue
        if upper == "OR":
            pending = None
            pos += 1
            continue
        if upper in ("NOT", "-") or (word.startswith("-") and len(word) > 1):
            if upper in ("NOT", "-"):
                pending = "must_not"
                pos += 1
                continue
            word = word[1:]
            pending = "must_not"
        elif word.startswith("+") and len(word) > 1:
            word = word[1:]
            pending = "must"
        # 'field:(' — bare prefix word directly before a group: scope the
        # whole group to that field (Tantivy's field-scoped group syntax)
        gm = re.match(r"^([A-Za-z_][\w.]*):$", word)
        if gm and pos + 1 < len(tokens) and tokens[pos + 1][0] == "lparen":
            pending_field = _resolve_field(gm.group(1), fields)
            pos += 1
            continue
        fld = None
        fm = _FIELD_WORD_RE.match(word)
        if fm:
            fld = _resolve_field(fm.group(1), fields)
            word = fm.group(2)
        text, boost = _split_boost(word)
        if text == "*" and fld is not None:
            # 'field:*' — ExistsQuery sugar: docs with ≥1 indexed term in
            # the field ≡ an unbounded constant-score term range
            children.append(
                (
                    pending or "should",
                    Leaf(terms=(), boost=boost, fld=fld, rng=(None, None, True, True)),
                )
            )
            pending = None
            pos += 1
            continue
        prefix_last = False
        fuzzy = 0
        if text.endswith("*") and len(text) > 1 and not re.search(r"[*?]", text[:-1]):
            # trailing star = dictionary-prefix term ('merge*')
            text, prefix_last = text[:-1], True
        elif re.search(r"[*?]", text) and text.strip("*?"):
            # Lucene WildcardQuery ('te?m', 't*m*'): '?' = exactly one
            # char, '*' = any run — translated to an anchored regex leaf
            # and expanded through the same dictionary machinery as
            # '/pattern/' (literal-prefix pruned; a leading wildcard is
            # allowed and is an honest full dictionary scan). Lowercased
            # like Lucene's lowercase_expanded_terms (index terms are
            # lowercase), unlike raw regex which stays case-sensitive.
            pat = "".join(
                ".*" if c == "*" else "." if c == "?" else re.escape(c)
                for c in text.lower()
            )
            children.append(
                (pending or "should", Leaf(terms=(pat,), boost=boost, fld=fld, regex=True))
            )
            pending = None
            pos += 1
            continue
        else:
            fm2 = re.match(r"^(.+)~([12])$", text)
            if fm2:
                text, fuzzy = fm2.group(1), int(fm2.group(2))
        terms = tuple(t for t, _ in tokenize_py(text, mode))
        if len(terms) != 1:
            fuzzy = 0  # fuzzy applies to single-term leaves only
        if terms:
            # a qualified word analyzing to 2+ tokens becomes a phrase in
            # that field (Tantivy parser behaviour, same as unqualified)
            children.append(
                (
                    pending or "should",
                    Leaf(
                        terms=terms,
                        boost=boost,
                        fld=fld,
                        prefix_last=prefix_last,
                        fuzzy=fuzzy,
                    ),
                )
            )
        pending = None
        pos += 1
    if depth != 0:
        raise QueryParseError("unbalanced parens")
    return children, pos


def _parse_once(query: str, mode: str, fields: frozenset | None = None) -> QueryPlan:
    if query.count('"') % 2 == 1:
        raise QueryParseError("unbalanced quotes")
    query = _rewrite_in_sets(query)
    tokens: list[tuple[str, object]] = []
    for m in _TOKEN_RE.finditer(query):
        if m.group("lparen"):
            tokens.append(("lparen", None))
        elif m.group("rparen") is not None:
            tokens.append(("rparen", float(m.group("gboost")) if m.group("gboost") else None))
        elif m.group("phrase") is not None:
            tokens.append(
                (
                    "phrase",
                    (
                        m.group("phrase"),
                        float(m.group("pboost") or 1.0),
                        int(m.group("slop") or 0),
                        m.group("pfield"),
                        bool(m.group("pstar")),
                        m.group("psign"),
                    ),
                )
            )
        elif m.group("rlo") is not None:
            if _in_quotes(query, m.start()):
                continue  # range-looking text inside a phrase is not a clause
            tokens.append(
                (
                    "range",
                    (
                        m.group("rfield"),
                        m.group("rlo"),
                        m.group("rhi"),
                        m.group("lo_b") == "[",
                        m.group("rhi_b") == "]",
                        float(m.group("rngboost") or 1.0),
                        m.group("rsign"),
                    ),
                )
            )
        elif m.group("rx") is not None:
            tokens.append(
                (
                    "regex",
                    (
                        m.group("rx"),
                        float(m.group("rxboost") or 1.0),
                        m.group("xfield"),
                        m.group("xsign"),
                    ),
                )
            )
        else:
            tokens.append(("word", m.group("word")))
    children, _ = _parse_group(tokens, 0, mode, 0, fields)

    plan = QueryPlan()
    if any(isinstance(node, BoolNode) for _, node in children):
        # nested semantics: keep the tree, flatten leaves for enumeration
        plan.root = BoolNode(tuple(children))
        for _, node in children:
            plan.leaves.extend(_flatten(node))
    else:
        import dataclasses

        plan.leaves = [dataclasses.replace(n, occur=occ) for occ, n in children]
    if not plan.leaves:
        plan.is_all = True
        plan.root = None
    return plan


def needs_expansion(plan: QueryPlan) -> bool:
    return any(l.prefix_last or l.fuzzy or l.regex for l in plan.leaves)


def regex_literal_prefix(pattern: str) -> str:
    """Longest literal prefix of an anchored regex — the dictionary-scan
    prune key (Lucene's RegexpQuery extracts the same from its automaton).
    Stops at the first metacharacter; backs off one char when the next
    metachar is a quantifier ('ab?c' can match 'a...')."""
    metas = set(".*+?[]{}()|^$\\")
    lit = []
    for c in pattern:
        if c in metas:
            if c in "*?{" and lit:  # quantifier applies to the previous atom
                lit.pop()
            break
        lit.append(c)
    return "".join(lit)


def expand_plan(
    plan: QueryPlan,
    expander,
    max_expansions: int = PREFIX_MAX_EXPANSIONS,
) -> QueryPlan:
    """Rewrite dictionary-expansion leaves — prefixes (``term*``,
    ``"a b"*``) and fuzzy terms (``term~1``/``~2``) — into OR-groups of
    concrete leaves using the index dictionary.

    ``expander(leaf)`` → candidate replacement terms for
    ``leaf.terms[-1]`` in dictionary order (the leaf carries its own
    field and kind: ``prefix_last`` or ``fuzzy``). Capped at
    ``max_expansions`` (Tantivy's max_expansions default 50). Zero
    expansions become an empty group — dead exactly like an absent
    term. Runs at execution time (the parser has no dictionary);
    parse_query output is pure."""
    import dataclasses

    if plan.is_all or not needs_expansion(plan):
        return plan

    def xf(node: "Leaf | BoolNode") -> "Leaf | BoolNode":
        if isinstance(node, BoolNode):
            return BoolNode(tuple((occ, xf(c)) for occ, c in node.children))
        if not (node.prefix_last or node.fuzzy or node.regex):
            return node
        exps = list(expander(node))[:max_expansions]
        return BoolNode(
            tuple(
                (
                    "should",
                    dataclasses.replace(
                        node,
                        terms=node.terms[:-1] + (e,),
                        occur="should",
                        prefix_last=False,
                        fuzzy=0,
                        regex=False,
                    ),
                )
                for e in exps
            )
        )

    if plan.root is not None:
        root = xf(plan.root)
    else:
        root = BoolNode(tuple((l.occur, xf(l)) for l in plan.leaves))
    out = QueryPlan(root=root)
    out.leaves = _flatten(root)
    return out


def apply_synonyms(plan: QueryPlan, synonyms: dict, mode: str = DEFAULT_MODE) -> QueryPlan:
    """Lucene SynonymQuery rewriting (engine-level, like Lucene's — no
    query syntax exists for it): every plain term leaf whose term has an
    entry in ``synonyms`` ({term: [alternatives...]}) becomes ONE
    synonym leaf over (term, *alternatives), scored with blended stats
    (Leaf.synonym docstring). Keys and alternatives run through the same
    analyzer as the query; entries that do not analyze to exactly one
    token are skipped (synonym graphs over phrases are out of scope,
    as in Lucene's SynonymQuery which is term-level). Apply AFTER
    expand_plan — pattern-expanded concrete terms then pick up their
    synonyms like hand-typed ones."""
    import dataclasses

    from .tokenizer import tokenize_py

    if plan.is_all or not synonyms:
        return plan
    norm: dict[str, tuple[str, ...]] = {}
    for key, alts in synonyms.items():
        kt = [t for t, _ in tokenize_py(key, mode)]
        if len(kt) != 1:
            continue
        group: list[str] = []
        for a in alts:
            at = [t for t, _ in tokenize_py(a, mode)]
            if len(at) == 1 and at[0] != kt[0] and at[0] not in group:
                group.append(at[0])
        if group:
            norm[kt[0]] = tuple(group)
    if not norm:
        return plan

    def xl(leaf: Leaf) -> Leaf:
        if (
            leaf.is_phrase
            or leaf.rng is not None
            or leaf.prefix_last
            or leaf.fuzzy
            or leaf.regex
            or leaf.synonym
            or not leaf.terms
        ):
            return leaf
        t = leaf.terms[0]
        if t not in norm:
            return leaf
        return dataclasses.replace(leaf, terms=(t,) + norm[t], synonym=True)

    if plan.root is not None:

        def xf2(node: "Leaf | BoolNode") -> "Leaf | BoolNode":
            if isinstance(node, BoolNode):
                return BoolNode(tuple((occ, xf2(c)) for occ, c in node.children))
            return xl(node)

        root = xf2(plan.root)
        out = QueryPlan(root=root)
        out.leaves = _flatten(root)
        return out
    out = QueryPlan()
    out.leaves = [xl(l) for l in plan.leaves]
    return out


def parse_query(
    query: str | None, mode: str = DEFAULT_MODE, fields: frozenset | set | None = None
) -> QueryPlan:
    """Parse with the reference's escape-and-retry fallback.

    ``fields``: valid names for ``field:`` prefixes (multi-field search
    passes its index names). An unknown prefix — or ANY prefix when the
    caller has no field set — is a parse error; the retry strips the
    specials (':' included), matching the reference's fallback."""
    if query is None or not query.strip():
        return QueryPlan(is_all=True)
    fs = frozenset(fields) if fields is not None else None
    try:
        return _parse_once(query, mode, fs)
    except QueryParseError:
        cleaned = "".join(c for c in query if c not in ESCAPE_CHARS)
        if not cleaned.strip():
            return QueryPlan(is_all=True)
        return _parse_once(cleaned, mode, fs)
