"""End-to-end: build index on Spark, run every query operator, assert
rank+score identity (float32-exact) against the brute-force oracle.

Mirrors the reference's layered strategy (SURVEY.md §5): deterministic golden
corpus (TestSearch.java style), randomized corpora, CheckHits-style score
re-derivation, and pruned ≡ unpruned equivalence."""

import numpy as np
import pytest

from lucene_spark.build import IndexConfig, build_index, read_index, write_index
from lucene_spark.query import (
    FuzzyQuery,
    MultiPhraseQuery,
    PhraseQuery,
    PrefixQuery,
    SpanNearQuery,
    SynonymQuery,
    TermInSetQuery,
    TermQuery,
    TermRangeQuery,
    WildcardQuery,
    bool_query,
)
from lucene_spark.search import Searcher

from oracle import BruteForceIndex, make_corpus

VOCAB = [
    "the", "a", "of", "return", "if", "def", "import", "value", "data",
    "index", "query", "term", "doc", "score", "merge", "block", "spark",
    "lucene", "search", "rank", "freq", "norm", "byte", "code", "test",
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "rarez",
]


@pytest.fixture(scope="module")
def corpus():
    docs = make_corpus(240, VOCAB, seed=7, min_len=1, max_len=50)
    # guarantee a singleton term and an empty-ish doc
    docs[100] = docs[100] + " singletonword"
    docs[5] = "the"
    return docs


@pytest.fixture(scope="module")
def built(spark, corpus):
    # small segments + tiny blocks to exercise multi-segment/multi-block paths
    cfg = IndexConfig(seg_size=64, block_size=16, with_positions=True)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, content string"
    )
    idx = build_index(df, cfg, doc_id_col="doc_id").persist()
    yield idx
    idx.unpersist()


@pytest.fixture(scope="module")
def oracle(corpus):
    return BruteForceIndex(corpus)


@pytest.fixture(scope="module")
def searcher(built):
    return Searcher(built, dtype=np.float32)


def assert_topk_equal(spark_df, expected, k=10):
    got = [(int(r["doc_id"]), np.float32(r["score"])) for r in spark_df.collect()]
    exp = [(d, np.float32(s)) for d, s in expected[:k]]
    assert got == exp, f"\ngot: {got}\nexp: {exp}"


# ---------------- stats / structure invariants (CheckIndex analog) ----------


def test_stats_match(built, oracle):
    assert built.stats.doc_count == oracle.doc_count
    assert built.stats.sum_total_term_freq == oracle.sum_ttf


def test_terms_table_matches_oracle(built, oracle):
    rows = {r["term"]: r for r in built.terms.collect()}
    vocab = {t for tf in oracle.tfs for t in tf}
    assert set(rows) == vocab
    for t in ["the", "rarez", "singletonword"]:
        if t in vocab:
            assert rows[t]["doc_freq"] == oracle.doc_freq(t)
    st = rows["singletonword"]
    assert st["doc_freq"] == 1 and st["singleton_doc_id"] == 100


def test_postings_invariants(built):
    import pandas as pd

    from lucene_spark import codec

    pdf = built.postings.toPandas()
    assert (pdf["count"] > 0).all()
    for row in pdf.itertuples(index=False):
        docs, freqs, _norms = codec.decode_block_row(row)
        assert np.all(np.diff(docs) > 0)  # strictly increasing
        assert docs[-1] == row.last_doc
        seg = row.segment_id
        assert np.all(docs // 64 == seg)  # doc in its segment
        assert np.all(freqs >= 1)
        if row.count == 1 and row.block_id == 0:
            # singleton pulsing: posting inlined in plain columns, no bytes
            assert row.docs_enc is None and row.freqs_enc is None
        # impacts are a pareto frontier over the block's (freq, norm) pairs
        assert len(row.imp_freqs) >= 1
        assert all(np.diff(row.imp_freqs) > 0) and all(np.diff(row.imp_norms) > 0)


def test_norms_match_oracle(built, oracle):
    rows = {r["doc_id"]: r["norm"] for r in built.docs.collect()}
    for d in range(oracle.doc_count):
        assert rows[d] == oracle.norms[d], d


# ---------------- query parity ----------------


@pytest.mark.parametrize("term", ["the", "spark", "rarez", "singletonword", "absentzz"])
def test_term_query(searcher, oracle, term):
    exp = BruteForceIndex.topk(oracle.score_term(term), 10)
    assert_topk_equal(searcher.search(TermQuery(term=term), 10, prune=False), exp)
    assert_topk_equal(searcher.search(TermQuery(term=term), 10, prune=True), exp)


def test_term_query_boost(searcher, oracle):
    exp = BruteForceIndex.topk(oracle.score_term("spark", boost=2.5), 10)
    assert_topk_equal(searcher.search(TermQuery(term="spark", boost=2.5), 10), exp)


@pytest.mark.parametrize(
    "must,should,must_not,filters,msm",
    [
        (["spark", "index"], [], [], [], 0),          # pure conjunction
        ([], ["spark", "merge", "rarez"], [], [], 0),  # pure disjunction (WAND)
        (["query"], ["spark", "merge"], [], [], 0),    # ReqOpt
        (["query"], [], ["spark"], [], 0),             # ReqExcl
        ([], ["spark", "merge", "block"], [], [], 2),  # minimumShouldMatch
        (["the"], [], [], ["spark"], 0),               # FILTER clause
        (["the", "a", "of"], [], [], [], 0),           # 3-clause AND, hot terms
        ([], ["rarez", "singletonword"], [], [], 0),   # rare disjunction
    ],
)
def test_boolean_query(searcher, oracle, must, should, must_not, filters, msm):
    exp = BruteForceIndex.topk(
        oracle.score_bool(must, should, must_not, filters, msm), 10
    )
    q = bool_query(
        must=[TermQuery(term=t) for t in must],
        should=[TermQuery(term=t) for t in should],
        must_not=[TermQuery(term=t) for t in must_not],
        filter=[TermQuery(term=t) for t in filters],
        msm=msm,
    )
    assert_topk_equal(searcher.search(q, 10, prune=False), exp)
    assert_topk_equal(searcher.search(q, 10, prune=True), exp)


def test_pruned_equals_unpruned_many_ks(searcher, oracle):
    q = bool_query(should=[TermQuery(term=t) for t in ["the", "spark", "merge"]])
    for k in (1, 3, 10, 50):
        exp = BruteForceIndex.topk(oracle.score_bool(should=["the", "spark", "merge"]), k)
        assert_topk_equal(searcher.search(q, k, prune=True), exp, k)


def test_hot_cache_equals_unpruned(searcher, oracle, monkeypatch):
    # driver hot-postings path: exact numpy scoring must match the oracle
    monkeypatch.setenv("LUCENE_SPARK_HOT_CACHE_POSTINGS", "10000000")
    searcher._postings_cache.clear()
    searcher._hot_cached = 0
    try:
        for term in ("the", "spark", "rarez", "singletonword"):
            exp = BruteForceIndex.topk(oracle.score_term(term), 10)
            assert_topk_equal(searcher.search(TermQuery(term=term), 10), exp)
        # repeat (served fully from cache) must be identical
        exp = BruteForceIndex.topk(oracle.score_term("spark"), 10)
        assert_topk_equal(searcher.search(TermQuery(term="spark"), 10), exp)
        q_or = bool_query(should=[TermQuery(term=t) for t in ("the", "spark", "merge")])
        exp = BruteForceIndex.topk(oracle.score_bool(should=["the", "spark", "merge"]), 10)
        assert_topk_equal(searcher.search(q_or, 10), exp)
        q_and = bool_query(must=[TermQuery(term="spark"), TermQuery(term="index")])
        exp = BruteForceIndex.topk(oracle.score_bool(must=["spark", "index"]), 10)
        assert_topk_equal(searcher.search(q_and, 10), exp)
        assert searcher._hot_cached > 0
        # positional / synonym / dismax hot paths vs the distributed paths
        from lucene_spark.query import DisjunctionMaxQuery, PhraseQuery, SynonymQuery

        for q in (
            PhraseQuery(terms=("the", "spark")),
            PhraseQuery(terms=("the", "spark"), slop=2),
            SynonymQuery(terms=("spark", "merge")),
            DisjunctionMaxQuery(
                disjuncts=(TermQuery(term="spark"), TermQuery(term="merge", boost=1.5)),
                tie_breaker=0.3,
            ),
        ):
            hot = searcher.top_docs(q, 10)
            cold = [
                (int(r["doc_id"]), float(r["score"]))
                for r in searcher.search(q, 10, prune=False).collect()
            ]
            assert [(d, np.float32(s)) for d, s in hot] == [
                (d, np.float32(s)) for d, s in cold
            ], q
        assert searcher._hot_pos_cached > 0
    finally:
        searcher._postings_cache.clear()
        searcher._hot_cached = 0


def test_hot_cache_eviction(searcher, oracle, monkeypatch):
    # cap below total postings: eviction keeps the cache within budget and
    # results stay correct; oversized terms fall back to the WAND paths
    monkeypatch.setenv("LUCENE_SPARK_HOT_CACHE_POSTINGS", "50")
    searcher._postings_cache.clear()
    searcher._hot_cached = 0
    try:
        for term in ("rarez", "singletonword", "spark", "the"):
            exp = BruteForceIndex.topk(oracle.score_term(term), 10)
            assert_topk_equal(searcher.search(TermQuery(term=term), 10), exp)
            assert searcher._hot_cached <= 50
    finally:
        searcher._postings_cache.clear()
        searcher._hot_cached = 0


def test_hot_cache_never_evicts_current_query_terms(searcher, oracle, monkeypatch):
    # regression (round-1 ADVICE): under cache pressure, evicting a term of
    # the CURRENT query after 'need' was computed left it absent from the
    # cache -> KeyError in the hot top-k path. Eviction must skip current
    # terms and fall back to the WAND paths when nothing else is evictable.
    df_the, df_spark = oracle.doc_freq("the"), oracle.doc_freq("spark")
    monkeypatch.setenv(
        "LUCENE_SPARK_HOT_CACHE_POSTINGS", str(df_the + df_spark - 1)
    )
    searcher._postings_cache.clear()
    searcher._hot_cached = 0
    try:
        exp = BruteForceIndex.topk(oracle.score_term("the"), 10)
        assert_topk_equal(searcher.search(TermQuery(term="the"), 10), exp)
        q = bool_query(should=[TermQuery(term="the"), TermQuery(term="spark")])
        exp2 = BruteForceIndex.topk(oracle.score_bool(should=["the", "spark"]), 10)
        assert_topk_equal(searcher.search(q, 10), exp2)
        assert "the" in searcher._postings_cache  # still cached, not evicted
    finally:
        searcher._postings_cache.clear()
        searcher._hot_cached = 0


def test_pruned_distributed_fallback(searcher, oracle, monkeypatch):
    # WAND with every driver snapshot capped at 0 rows: the per-term
    # metadata is the only driver state it needs; identical top-k
    monkeypatch.setenv("LUCENE_SPARK_DRIVER_META_MAX", "0")
    q = bool_query(should=[TermQuery(term=t) for t in ["the", "spark", "merge"]])
    exp = BruteForceIndex.topk(oracle.score_bool(should=["the", "spark", "merge"]), 10)
    assert_topk_equal(searcher.search(q, 10, prune=True), exp)
    q2 = bool_query(must=[TermQuery(term="spark"), TermQuery(term="index")])
    exp2 = BruteForceIndex.topk(oracle.score_bool(must=["spark", "index"]), 10)
    assert_topk_equal(searcher.search(q2, 10, prune=True), exp2)


def _count_jobs(spark, group, fn) -> int:
    """Spark jobs that fn() runs, counted under a job group of its own (a
    job group another test left set cannot hide them)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("driver_cap", ["2000000", "0"])
def test_warm_wand_job_count(built, oracle, spark, monkeypatch, driver_cap):
    """A warm repeated top-k on the WAND tier spends at most 2 Spark jobs
    (one action; AQE materializes the shuffle stage as its own job). This is
    the 100-TB serving contract: per query, one decode+agg pass over the
    postings, with the WAND test inline in the decode scanner — per-term
    metadata, θ, and term stats all come from driver caches.
    driver_cap="0" caps every driver-side snapshot at 0 rows; the job count
    must not depend on it."""
    monkeypatch.setenv("LUCENE_SPARK_DRIVER_META_MAX", driver_cap)
    s = Searcher(built, dtype=np.float32, preload_stats=True)
    q = bool_query(should=[TermQuery(term=t) for t in ["the", "spark", "merge"]])
    exp = BruteForceIndex.topk(oracle.score_bool(should=["the", "spark", "merge"]), 10)

    s.top_docs(q, 10)  # cold: metadata fetch + θ
    s.top_docs(q, 10)
    got = []
    n_jobs = _count_jobs(spark, f"warm-wand-{driver_cap}",
                         lambda: got.extend(s.top_docs(q, 10)))
    assert [(d, np.float32(sc)) for d, sc in got] == [
        (d, np.float32(sc)) for d, sc in exp[:10]
    ]
    assert n_jobs <= 2, f"warm WAND query ran {n_jobs} jobs (cap 2)"


def _perfbench_shapes():
    """One query of every shape the perfbench query stream runs."""
    from lucene_spark.query import BlendedTermQuery, DisjunctionMaxQuery

    t = lambda w: TermQuery(term=w)
    return {
        "term": t("spark"),
        "or2": bool_query(should=[t("spark"), t("merge")]),
        "or3": bool_query(should=[t("spark"), t("merge"), t("index")]),
        "and2": bool_query(must=[t("spark"), t("index")]),
        "dismax": DisjunctionMaxQuery(disjuncts=(t("spark"), t("index")),
                                      tie_breaker=0.1),
        "synonym": SynonymQuery(terms=("spark", "merge")),
        "blended": BlendedTermQuery(terms=("merge", "index"), boosts=(1.0, 2.0),
                                    tie_breaker=0.1),
        "phrase": PhraseQuery(terms=("the", "spark")),
        "sloppy": PhraseQuery(terms=("the", "spark", "merge"), slop=3),
        "sloppy_rpts": PhraseQuery(terms=("the", "spark", "the"), slop=4),
        "filter": bool_query(must=[t("index")], filter=[PrefixQuery(prefix="th")]),
    }


def test_plan_tier_of_every_perfbench_shape(built, monkeypatch):
    """The tier each perfbench shape is served by: hot for every shape but
    the filter with the hot cache on; without it WAND for the flat shapes
    and _eval for the rest, each naming the faster tiers it passed."""
    shapes = _perfbench_shapes()
    monkeypatch.setenv("LUCENE_SPARK_MIN_PRUNABLE", "0")
    monkeypatch.setenv("LUCENE_SPARK_HOT_CACHE_POSTINGS", "10000000")
    s = Searcher(built, dtype=np.float32)
    for name, q in shapes.items():
        p = s.plan(q, 10)
        assert p.tier == ("eval" if name == "filter" else "hot"), name
    monkeypatch.setenv("LUCENE_SPARK_HOT_CACHE_POSTINGS", "0")
    s = Searcher(built, dtype=np.float32)
    for name, q in shapes.items():
        p = s.plan(q, 10)
        flat = name in ("term", "or2", "or3", "and2")
        assert p.tier == ("wand" if flat else "eval"), name
        assert [t for t, _ in p.declined] == (["hot"] if flat else ["hot", "wand"])
        assert (p.rows is None) == (p.tier == "eval"), name


def test_warm_job_count_same_with_and_without_preload(built, spark, monkeypatch):
    """A Searcher fetches a term's stats once, absent terms included, so a
    warm top_docs runs as many Spark jobs as with the whole terms table
    preloaded."""
    monkeypatch.setenv("LUCENE_SPARK_HOT_CACHE_POSTINGS", "0")
    shapes = _perfbench_shapes()

    def warm_jobs(s, q, group):
        s.top_docs(q, 10)
        s.top_docs(q, 10)
        return _count_jobs(spark, group, lambda: s.top_docs(q, 10))

    for name in ("term", "or2", "and2", "phrase", "synonym", "dismax", "blended"):
        q = shapes[name]
        plain = warm_jobs(Searcher(built, dtype=np.float32), q, f"warm-plain-{name}")
        preloaded = warm_jobs(Searcher(built, dtype=np.float32, preload_stats=True), q,
                              f"warm-preloaded-{name}")
        assert plain > 0, name
        assert plain == preloaded, (name, plain, preloaded)


# Warm Spark jobs of each flat shape: search(q, prune=False) runs _eval's
# flat evaluator, top_docs (hot cache off) runs WAND on the or / and shapes.
# A shape with a combine is one action plus its AQE shuffle stage; a single
# term needs no combine, so no shuffle
FLAT_EVAL_JOBS = {
    "term": 1, "or2": 2, "or3": 2, "and2": 2, "dismax": 2, "mixed_msm": 2,
    "blended_dismax": 2, "blended_boolean": 2, "repeated_or": 2,
}
FLAT_WAND_JOBS = {"term": 1, "or2": 2, "or3": 2, "and2": 2}


def test_flat_shape_spark_job_counts(built, spark):
    from lucene_spark.query import BlendedTermQuery

    t = lambda w, b=1.0: TermQuery(term=w, boost=b)
    shapes = _perfbench_shapes()
    shapes = {name: shapes[name] for name in ("term", "or2", "or3", "and2", "dismax")}
    shapes.update({
        "mixed_msm": bool_query(must=[t("spark")],
                                should=[t("merge"), t("index"), t("the")], msm=2),
        "blended_dismax": BlendedTermQuery(terms=("merge", "index"), boosts=(1.0, 2.0),
                                           tie_breaker=0.1),
        "blended_boolean": BlendedTermQuery(terms=("merge", "index"), boosts=(1.0, 2.0),
                                            rewrite="boolean"),
        "repeated_or": bool_query(should=[t("spark", 0.3), t("spark")]),
    })
    s = Searcher(built, dtype=np.float32)
    got_eval, got_wand = {}, {}
    for name, q in shapes.items():
        assert s.search(q, 10, prune=False).collect(), name  # warm: term stats
        got_eval[name] = _count_jobs(spark, f"flat-eval-{name}",
                                     lambda: s.search(q, 10, prune=False).collect())
        if name in ("term", "or2", "or3", "and2"):
            s.top_docs(q, 10)  # warm: WAND metadata and θ
            got_wand[name] = _count_jobs(spark, f"flat-wand-{name}",
                                         lambda: s.top_docs(q, 10))
            assert s.plan(q, 10).tier == "wand", name
    assert got_eval == FLAT_EVAL_JOBS
    assert got_wand == FLAT_WAND_JOBS


def test_multi_phrase_query(searcher, oracle, corpus):
    w = corpus[0].split()[:2]
    slots = ((w[0], "zzznope"), (w[1],))
    exp = BruteForceIndex.topk(oracle.score_multi_phrase(slots), 10)
    assert len(exp) > 0
    got = searcher.search(MultiPhraseQuery(slots=slots), 10)
    assert_topk_equal(got, exp)
    # a slot with only absent alternatives matches nothing
    assert (
        searcher.search(
            MultiPhraseQuery(slots=((w[0],), ("zzznope",))), 10
        ).count()
        == 0
    )
    # all-singleton slots rewrite to a plain phrase — same result
    exp2 = BruteForceIndex.topk(oracle.score_phrase(w), 10)
    got2 = searcher.search(MultiPhraseQuery(slots=((w[0],), (w[1],))), 10)
    assert_topk_equal(got2, exp2)


@pytest.mark.parametrize("slop,in_order", [(0, True), (2, True), (2, False), (5, False)])
def test_span_near_query(searcher, oracle, corpus, slop, in_order):
    w = corpus[0].split()[:2]
    exp = BruteForceIndex.topk(
        oracle.score_span_near(w, slop=slop, in_order=in_order), 10
    )
    got = searcher.search(
        SpanNearQuery(terms=tuple(w), slop=slop, in_order=in_order), 10
    )
    assert_topk_equal(got, exp)


@pytest.mark.parametrize("slop,in_order", [(3, True), (6, False)])
def test_span_near_query_three_terms(searcher, oracle, slop, in_order):
    w = ["the", "a", "query"]
    exp = BruteForceIndex.topk(
        oracle.score_span_near(w, slop=slop, in_order=in_order), 10
    )
    assert len(exp) > 0
    got = searcher.search(
        SpanNearQuery(terms=tuple(w), slop=slop, in_order=in_order), 10
    )
    assert_topk_equal(got, exp)


@pytest.mark.parametrize("slop", [1, 2, 5])
def test_sloppy_phrase_query(searcher, oracle, slop):
    # rank-exact SloppyPhraseMatcher parity (freq = Σ 1/(1+matchLength))
    w = ("the", "query")
    exp = BruteForceIndex.topk(oracle.score_phrase(list(w), slop=slop), 10)
    assert len(exp) > 0
    got = searcher.search(PhraseQuery(terms=w, slop=slop), 10)
    assert_topk_equal(got, exp)


def test_multi_term_constant_score_is_distributed(searcher, built):
    # CONSTANT_SCORE path: a prefix matching MORE than MAX_CLAUSE_COUNT
    # terms must NOT truncate (the reference's bitset rewrite is uncapped)
    from lucene_spark.search import MAX_CLAUSE_COUNT, TooManyClauses

    m = searcher.matches(PrefixQuery(prefix=""))  # every term
    n_vocab = built.terms.count()
    expected_docs = built.docs.filter("length > 0").count()
    assert m.count() == expected_docs
    # the plan is a semi-join against the terms table, not a collected IN list
    plan = m._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    # scoring rewrites keep the cap and THROW instead of truncating
    if n_vocab <= MAX_CLAUSE_COUNT:
        assert len(searcher.expand_terms(PrefixQuery(prefix=""))) == n_vocab
    import lucene_spark.search as S

    old = S.MAX_CLAUSE_COUNT
    S.MAX_CLAUSE_COUNT = 3
    try:
        with pytest.raises(TooManyClauses):
            searcher.expand_terms(PrefixQuery(prefix=""))
    finally:
        S.MAX_CLAUSE_COUNT = old


@pytest.mark.parametrize("ordered,max_gaps", [(True, 3), (True, -1), (False, -1), (False, 2)])
def test_interval_query(searcher, oracle, ordered, max_gaps):
    from lucene_spark.query import IntervalQuery
    from test_matchers import _brute_minimal_intervals

    w = ["the", "query"]
    n = len(w)
    exp_scores = {}
    for d in range(oracle.doc_count):
        pos = oracle.positions[d]
        if any(t not in pos for t in w):
            continue
        freq = 0.0
        for s, e in _brute_minimal_intervals([pos[t] for t in w], ordered):
            length = e - s + 1
            if max_gaps >= 0 and (length - n) > max_gaps:
                continue
            freq += 1.0 / max(length - n + 1, 1)
        if freq > 0:
            exp_scores[d] = np.float32(1.0 - 1.0 / (freq + 1.0))
    exp = BruteForceIndex.topk(exp_scores, 10)
    assert len(exp) > 0
    got = searcher.search(
        IntervalQuery(terms=tuple(w), ordered=ordered, max_gaps=max_gaps), 10
    )
    assert_topk_equal(got, exp)


def test_feature_query_scoring(searcher, built):
    import math

    from lucene_spark.query import FeatureQuery

    # docs table always carries `length`; use it as the feature column
    rows = searcher.search(FeatureQuery(feature="length", boost=2.0), 5,
                           prune=False).collect()
    lengths = {r["doc_id"]: r["length"] for r in built.docs.collect()}
    for r in rows:
        assert abs(r["score"] - 2.0 * math.log(1.0 + lengths[r["doc_id"]])) < 1e-9
    # unknown feature column -> no matches
    assert searcher.search(FeatureQuery(feature="nope"), 5).count() == 0


def test_explain_matches_actual_scores(searcher, oracle):
    from pyspark.sql import functions as F

    # term: root value equals the evaluated per-doc score; details present
    hits = searcher.search(TermQuery(term="spark"), 3, prune=False).collect()
    for r in hits:
        e = searcher.explain(TermQuery(term="spark"), r["doc_id"])
        assert e.matched and abs(e.value - r["score"]) < 1e-9
        assert any("idf" in d.description for d in e.details)
        assert "BM25" in str(e)
    # boolean: sum of clauses
    q = bool_query(must=[TermQuery(term="spark"), TermQuery(term="index")])
    row = searcher.search(q, 1, prune=False).collect()[0]
    e = searcher.explain(q, row["doc_id"])
    assert e.matched and abs(e.value - row["score"]) < 1e-6
    assert len(e.details) == 2
    # non-match cases
    assert not searcher.explain(TermQuery(term="absentzz"), 0).matched
    nm = searcher.explain(q, -1)
    assert not nm.matched and nm.value == 0.0
    # must_not exclusion explains as no-match
    q2 = bool_query(must=[TermQuery(term="spark")], must_not=[TermQuery(term="spark")])
    assert not searcher.explain(q2, row["doc_id"]).matched


def test_phrase_query(searcher, oracle, corpus):
    # find a phrase that actually occurs: first two tokens of doc 0
    w = corpus[0].split()[:2]
    exp = BruteForceIndex.topk(oracle.score_phrase(w), 10)
    assert len(exp) > 0
    got = searcher.search(PhraseQuery(terms=tuple(w)), 10)
    assert_topk_equal(got, exp)


def test_synonym_query(searcher, oracle):
    # max docFreq idf + summed tf
    terms = ("spark", "merge")
    import math

    n = max(oracle.doc_freq(t) for t in terms)
    w = np.float32(math.log(1.0 + (oracle.doc_count - n + 0.5) / (n + 0.5)))
    exp_scores = {}
    for d, tf in enumerate(oracle.tfs):
        freq = sum(tf.get(t, 0) for t in terms)
        if freq:
            inv = oracle.cache[oracle.norms[d]]
            exp_scores[d] = np.float32(w - w / (np.float32(1.0) + np.float32(freq) * inv))
    exp = BruteForceIndex.topk(exp_scores, 10)
    assert_topk_equal(searcher.search(SynonymQuery(terms=terms), 10), exp)


def test_prefix_query_constant_score(searcher, oracle):
    got = searcher.search(PrefixQuery(prefix="de"), 1000)
    exp_docs = {d for d, tf in enumerate(oracle.tfs) if any(t.startswith("de") for t in tf)}
    rows = got.collect()
    assert {int(r["doc_id"]) for r in rows} == exp_docs
    assert all(np.float32(r["score"]) == np.float32(1.0) for r in rows)


def test_wildcard_and_regexp_and_range_and_set(searcher, oracle):
    from lucene_spark.query import RegexpQuery

    def docs_of(pred):
        return {d for d, tf in enumerate(oracle.tfs) if any(pred(t) for t in tf)}

    cases = [
        (WildcardQuery(pattern="*ar*"), lambda t: "ar" in t),
        (RegexpQuery(regexp="[ab].*a"), lambda t: __import__("re").fullmatch("[ab].*a", t)),
        (TermRangeQuery(lower="query", upper="spark"), lambda t: "query" <= t <= "spark"),
        (TermInSetQuery(terms=("spark", "merge", "nope")), lambda t: t in ("spark", "merge")),
    ]
    for q, pred in cases:
        got = {int(r["doc_id"]) for r in searcher.search(q, 10_000).collect()}
        assert got == docs_of(pred), q


def test_fuzzy_query(searcher, oracle):
    got = {int(r["doc_id"]) for r in searcher.search(FuzzyQuery(term="spar", max_edits=1), 10_000).collect()}

    def within1(a, b):
        import difflib

        # quick levenshtein
        if abs(len(a) - len(b)) > 1:
            return False
        # dp
        la, lb = len(a), len(b)
        prev = list(range(lb + 1))
        for i in range(1, la + 1):
            cur = [i] + [0] * lb
            for j in range(1, lb + 1):
                cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (a[i - 1] != b[j - 1]))
            prev = cur
        return prev[lb] <= 1

    exp = {d for d, tf in enumerate(oracle.tfs) if any(within1("spar", t) for t in tf)}
    assert got == exp


def test_count_and_match_all(searcher, oracle):
    from lucene_spark.query import MatchAllDocsQuery

    assert searcher.count(MatchAllDocsQuery()) == oracle.doc_count
    assert searcher.count(TermQuery(term="the")) == oracle.doc_freq("the")
    q = bool_query(must=[TermQuery(term="spark"), TermQuery(term="merge")])
    exp = len(oracle.score_bool(must=["spark", "merge"]))
    assert searcher.count(q) == exp


def test_write_read_round_trip(tmp_path, spark, built, oracle):
    path = str(tmp_path / "idx")
    write_index(built, path)
    idx2 = read_index(spark, path)
    s2 = Searcher(idx2)
    exp = BruteForceIndex.topk(oracle.score_term("spark"), 10)
    assert_topk_equal(s2.search(TermQuery(term="spark"), 10), exp)


def test_searcher_f64_mode_ranks_match(searcher, built, oracle):
    s64 = Searcher(built, dtype=np.float64)
    exp = [d for d, _ in BruteForceIndex.topk(oracle.score_term("spark"), 10)]
    got = [int(r["doc_id"]) for r in s64.search(TermQuery(term="spark"), 10).collect()]
    assert got == exp


def test_check_index_tool(built):
    from lucene_spark.check import check_index

    rep = check_index(built)
    assert rep["ok"] and rep["docs"] == built.stats.doc_count
    assert rep["blocks"] > 0 and rep["terms"] > 0

    # corruption must be caught: break the stats
    import dataclasses

    from lucene_spark.bm25 import CollectionStats

    broken = dataclasses.replace(
        built, stats=CollectionStats(built.stats.doc_count + 1, 0)
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="CollectionStats"):
        check_index(broken, deep=False)


def test_search_after_pages_are_contiguous(searcher, oracle):
    exp = BruteForceIndex.topk(oracle.score_term("the"), 30)
    page1 = searcher.search(TermQuery(term="the"), 10, prune=False).collect()
    cursor = (float(page1[-1]["score"]), int(page1[-1]["doc_id"]))
    page2 = searcher.search_after(TermQuery(term="the"), 10, after=cursor).collect()
    got = [(int(r["doc_id"]), np.float32(r["score"])) for r in page1 + page2]
    assert got == [(d, np.float32(s)) for d, s in exp[:20]]
    # paging past the end returns empty
    last = BruteForceIndex.topk(oracle.score_term("rarez"), 10**6)
    tail = (float(last[-1][1]), int(last[-1][0]))
    assert searcher.search_after(TermQuery(term="rarez"), 5, after=tail).count() == 0
