"""LocalSearcher (driver-side serving) rank/score identity: every
locally-servable reference query must match the pinned pure-Python
oracle AND the distributed segment engine exactly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fugu_spark.reference_queries import REFERENCE_QUERIES
from fugu_spark.segment_search import search_segments
from fugu_spark.segments import build_segments
from fugu_spark.serve import LocalSearcher

from .oracle import PyIndex

N_ROWS = 200


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    from fugu_spark.corpus import generate_corpus

    corpus = (
        generate_corpus(spark, N_ROWS)
        .withColumn("doc_id", F.xxhash64("repo", "path", "commit"))
        .cache()
    )
    idx_dir = str(tmp_path_factory.mktemp("serve") / "idx")
    si = build_segments(corpus, idx_dir, id_col="doc_id", text_col="content",
                        hot_df_threshold=120)  # force salting
    oracle = PyIndex({r.doc_id: r.content for r in corpus.select("doc_id", "content").collect()})
    return corpus, si, LocalSearcher(idx_dir), oracle


SERVABLE = [
    rq for rq in REFERENCE_QUERIES
    if not rq.filters and rq.query_text.strip()
]


@pytest.mark.parametrize("rq", SERVABLE, ids=lambda r: f"q{r.query_id}")
def test_local_searcher_rank_identity(setup, rq):
    corpus, si, ls, oracle = setup
    expected = oracle.search(rq.query_text, k=rq.top_k)
    got = list(ls.search(rq.query_text, k=rq.top_k).itertuples(index=False))
    assert [g.doc_id for g in got] == [d for d, _ in expected], f"q{rq.query_id} ranks"
    for g, (ed, es) in zip(got, expected):
        assert g.score == pytest.approx(es, abs=1e-9), f"q{rq.query_id} doc {g.doc_id}"


def test_offset_pagination_matches_oracle(setup):
    """Regression: MaxScore θ must be seeded for k+offset — page 2 docs may
    live only in blocks a k-seeded θ would prune. Runs BEFORE the upsert
    test below (which mutates the shared index's df stats)."""
    _, _, ls, oracle = setup
    for q in ["merge join", "merge join sort hash"]:
        expected = oracle.search(q, k=20)
        for offset in (5, 10, 15):
            got = list(ls.search(q, k=5, offset=offset).itertuples(index=False))
            want = expected[offset : offset + 5]
            assert [g.doc_id for g in got] == [d for d, _ in want], (q, offset)
            for g, (_, es) in zip(got, want):
                assert g.score == pytest.approx(es, abs=1e-9)


def test_posting_volume_routing(setup):
    """Hot-term queries route distributed; rare-term queries stay local;
    both produce identical results (engine fallback parity). Runs before
    the upsert test (which mutates the shared index's df stats)."""
    corpus, si, ls, oracle = setup
    hot = ls.term_meta(["merge"])["merge"]["df"]
    with pytest.raises(ValueError, match="serve cap"):
        ls.search("merge join", k=10, max_postings=hot - 1)
    # a cap above the query volume serves locally, identical to uncapped
    capped = ls.search("merge join", k=10, max_postings=10**9)
    uncapped = ls.search("merge join", k=10)
    assert capped.equals(uncapped)
    # over-cap queries fall back to the distributed engine with identical ranks
    over_cap = [
        (r.doc_id, round(r.score, 9))
        for r in search_segments(si, "merge join", k=10, docs=corpus).collect()
    ]
    assert [(d, round(s, 9)) for d, s in zip(uncapped.doc_id, uncapped.score)] == over_cap


def test_local_matches_distributed_after_upsert(spark, setup, tmp_path):
    """Serving honors delete masks: upsert, reopen, compare engines."""
    from fugu_spark.segments import upsert_segments

    corpus, si, _, _ = setup
    batch = corpus.limit(3)
    si2 = upsert_segments(si, batch, id_col="doc_id", text_col="content")
    ls2 = LocalSearcher(si2.index_dir)
    for q in ["merge join", "merge AND join", '"merge join"', "merge^2 join"]:
        dist = [(r.doc_id, r.score) for r in
                search_segments(si2, q, k=10, wand_min_postings=0).collect()]
        loc = [(r.doc_id, r.score) for r in ls2.search(q, k=10).itertuples(index=False)]
        assert [d for d, _ in loc] == [d for d, _ in dist], q
        for (ld, lscore), (dd, dscore) in zip(loc, dist):
            assert lscore == pytest.approx(dscore, abs=1e-9), (q, ld)


def test_local_rejects_unservable(setup):
    _, _, ls, _ = setup
    with pytest.raises(ValueError):
        ls.search("", k=5)
    with pytest.raises(ValueError):
        ls.search("NOT merge", k=5)


def test_allquery_and_notonly_over_bare_index(setup):
    """search_segments without a docs table derives the universe from the
    index itself instead of silently returning 0 rows."""
    corpus, si, _, oracle = setup
    n = corpus.count()
    allq = search_segments(si, "", k=10_000).collect()
    assert len(allq) == n
    assert all(r.score == 1.0 for r in allq)
    merge_docs = {d for d, _ in oracle.search("merge", k=10_000)}
    notq = {r.doc_id for r in search_segments(si, "NOT merge", k=10_000).collect()}
    assert notq == {r.doc_id for r in allq} - merge_docs


def test_postings_cache_identity_and_eviction(spark, tmp_path):
    """The decoded-postings LRU must be rank/score-invisible and respect
    its byte budget."""
    from fugu_spark.segments import build_segments
    from fugu_spark.serve import LocalSearcher

    docs = spark.createDataFrame(
        [(i, f"merge join alpha beta w{i % 7} w{i % 11} gamma") for i in range(200)],
        "doc_id long, text string",
    )
    d = str(tmp_path / "idx")
    build_segments(docs, d, text_col="text", n_buckets=2)

    on = LocalSearcher(d)
    off = LocalSearcher(d, cache_bytes=0)
    for q in ("merge join", "merge AND join", '"merge join"', "alpha^2 beta", "merge NOT w3"):
        first = on.search(q, k=15)
        second = on.search(q, k=15)  # served from cache
        base = off.search(q, k=15)
        assert first.equals(base) and second.equals(base), q
    assert on._post_cache_bytes > 0

    # tiny budget: entries must be evicted, never exceeded
    tiny = LocalSearcher(d, cache_bytes=4096)
    for q in ("merge", "join", "alpha", "beta", "gamma"):
        tiny.search(q, k=5)
        assert tiny._post_cache_bytes <= 4096


class TestCount:
    """LocalSearcher.count: exact hit counts — must equal the matched-set
    size of the distributed engine and the oracle for every shape."""

    @pytest.mark.parametrize("q", [
        "merge", "merge join", "merge AND join", "merge NOT join",
        '"merge join"', "merge^2 join scan",
    ])
    def test_count_matches_distributed(self, setup, q):
        corpus, si, ls, oracle = setup
        want = search_segments(si, q, k=10**9).count()
        assert ls.count(q) == want

    def test_count_matches_oracle(self, setup):
        corpus, si, ls, oracle = setup
        want = len(oracle.search("merge join", k=10**9))
        assert ls.count("merge join") == want

    def test_count_absent_term(self, setup):
        _, _, ls, _ = setup
        assert ls.count("zzzznotfound") == 0

    def test_count_maxscore_not_engaged(self, setup):
        """Counting must see EVERY matched doc, not just top-k: the same
        query with a tiny k returns fewer rows than the count."""
        _, si, ls, _ = setup
        assert ls.count("merge join") > len(ls.search("merge join", k=3))


def _ranked(rows):
    return sorted(((r.doc_id, r.score) for r in rows), key=lambda x: (-x[1], x[0]))


def _assert_same_ranking(got, want):
    assert [d for d, _ in got] == [d for d, _ in want]
    for (d, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-9), d


def _reloaded(si):
    """The index as it is on disk now: test_local_matches_distributed_after_upsert
    has added a generation, and a SegmentIndex loaded before it pairs its
    old n_docs with the new dictionary dfs (the upsert replaced docs with
    the same text, so the oracle's match sets still hold)."""
    from fugu_spark.segments import SegmentIndex

    return SegmentIndex.load(si.spark, si.index_dir)


class TestHugeK:
    """A k above the index's document count asks for the whole ranked
    matched set. It is capped at maxDoc (Spark's top-k buffer is sized by
    the limit, not by the rows), and must return exactly the full set:
    expectations come from the k=None frame and the oracle."""

    @pytest.mark.parametrize("q, path_kwargs", [
        ("merge join scan", {"wand_min_postings": 1}),  # MaxScore θ-seed
        ("merge", {"wand_min_postings": 1}),  # single live term: heap_topk
        ("merge AND join", {}),  # exhaustive top_k
    ], ids=["maxscore", "heap_topk", "top_k"])
    def test_segments_huge_k_is_full_ranked_set(self, setup, q, path_kwargs):
        _, si, _, oracle = setup
        si = _reloaded(si)
        want = _ranked(search_segments(si, q, k=None).collect())
        assert {d for d, _ in want} == {d for d, _ in oracle.search(q, k=10**9)}
        got = [(r.doc_id, r.score) for r in search_segments(si, q, k=10**9, **path_kwargs).collect()]
        _assert_same_ranking(got, want)

    def test_segments_huge_k_sort_by(self, setup):
        corpus, si, _, oracle = setup
        si = _reloaded(si)
        q = "merge join"
        full = {r.doc_id: r.score for r in search_segments(si, q, k=None).collect()}
        assert set(full) == {d for d, _ in oracle.search(q, k=10**9)}
        path = {r.doc_id: r.path for r in corpus.select("doc_id", "path").collect()}
        want = sorted(sorted(full), key=lambda d: path[d], reverse=True)  # ties: doc_id ASC
        got = search_segments(si, q, k=10**9, docs=corpus, sort_by="path").collect()
        assert [r.doc_id for r in got] == want
        for r in got:
            assert r.sort_key == path[r.doc_id]
            assert r.score == pytest.approx(full[r.doc_id], abs=1e-9)

    def test_search_huge_k_and_offset(self, setup):
        from fugu_spark.dsl import search_dsl
        from fugu_spark.postings import build_index
        from fugu_spark.search import search

        corpus, _, _, oracle = setup
        idx = build_index(corpus, id_col="doc_id", text_col="content")
        q = "merge join"
        want = oracle.search(q, k=10**9)
        _assert_same_ranking(_ranked(search(idx, q, k=10**9).collect()), want)
        _assert_same_ranking(_ranked(search(idx, q, k=10**9, offset=5).collect()), want[5:])
        assert search(idx, q, k=10**9, offset=10**6).collect() == []
        dsl = {"bool": {"should": [{"term": {"_all": "merge"}}, {"term": {"_all": "join"}}]}}
        _assert_same_ranking(_ranked(search_dsl(idx, dsl, k=10**9).collect()), want)
        # field-sorted page: offset + huge k through top_k_by_field
        path = {r.doc_id: r.path for r in corpus.select("doc_id", "path").collect()}
        order = sorted(sorted(d for d, _ in want), key=lambda d: path[d], reverse=True)
        got = search(idx, q, k=10**9, offset=3, docs=corpus, sort_by="path").collect()
        assert [r.doc_id for r in got] == order[3:]

    def test_universe_plans(self, spark, tmp_path):
        """compact() counts only docs with postings, so a docs table with
        empty-text docs holds more docs than n_docs: plans that draw on
        that universe (NOT-only, or a NOT-only nested group) keep k. With
        no docs table the universe is every doc with postings, for the
        nested group too, not only the docs holding a plan term."""
        from fugu_spark.segments import compact

        texts = ["alpha beta", "beta gamma", "", "gamma delta", "alpha", "beta", ""]
        docs = spark.createDataFrame(list(enumerate(texts, 1)), "doc_id long, text string")
        si = compact(build_segments(docs, str(tmp_path / "idx"), text_col="text", n_buckets=2))
        assert si.stats.n_docs == 5
        for q, want in [("NOT zzz", {1, 2, 3, 4, 5, 6, 7}),
                        ("(NOT delta NOT zzz) OR alpha", {1, 2, 3, 5, 6, 7})]:
            got = {r.doc_id for r in search_segments(si, q, k=10, docs=docs).collect()}
            assert got == want, q
            bare = {r.doc_id for r in search_segments(si, q, k=10).collect()}
            assert bare == want - {3, 7}, q

    def test_cap_top_k(self):
        from fugu_spark.queryparse import parse_query
        from fugu_spark.search import cap_top_k

        pos = parse_query("merge join")
        assert cap_top_k(10**9, 0, 200, pos, None) == (200, 0)
        assert cap_top_k(10, 0, 200, pos, None) == (10, 0)
        assert cap_top_k(10**9, 150, 200, pos, None) == (50, 150)
        assert cap_top_k(10, 10**6, 200, pos, None) == (0, 200)  # empty page
        assert cap_top_k(10**9, 0, 0, pos, None) == (1, 0)
        assert cap_top_k(None, 0, 200, pos, None) == (None, 0)  # full set
        docs = object()  # only its presence matters
        assert cap_top_k(10**9, 0, 200, pos, docs) == (200, 0)
        # the docs table is the universe: it may hold docs with no
        # postings, which n_docs need not count — left uncapped
        for q in ["", "NOT merge", "(NOT merge NOT sort) OR join"]:
            assert cap_top_k(10**9, 0, 200, parse_query(q), docs) == (10**9, 0), q
            assert cap_top_k(10**9, 0, 200, parse_query(q), None) == (200, 0), q


class TestSearchPinned:
    """Served pinned query: pins lead in order with the ladder scores,
    organic tail deduped — oracle-derived expectations."""

    def test_pins_lead_then_organic(self, setup):
        corpus, si, ls, oracle = setup
        base = oracle.search("merge join", k=50)
        pins = [base[3][0], base[0][0]]  # one mid-rank, one top organic doc
        out = ls.search_pinned(pins, "merge join", k=10)
        got = list(out.itertuples(index=False))
        assert [g.doc_id for g in got[:2]] == pins
        assert got[0].score == 1e9 and got[1].score == 1e9 - 1
        want_tail = [d for d, _ in base if d not in set(pins)][:8]
        assert [g.doc_id for g in got[2:]] == want_tail
        for g, (ed, es) in zip(got[2:], [p for p in base if p[0] not in set(pins)][:8]):
            assert g.score == pytest.approx(es, abs=1e-9)

    def test_k_smaller_than_pins(self, setup):
        _, _, ls, _ = setup
        out = ls.search_pinned([11, 12, 13], "merge", k=2)
        assert list(out["doc_id"]) == [11, 12]

    def test_guards(self, setup):
        _, _, ls, _ = setup
        with pytest.raises(ValueError):
            ls.search_pinned([], "merge")
        with pytest.raises(ValueError):
            ls.search_pinned([1, 1], "merge")
