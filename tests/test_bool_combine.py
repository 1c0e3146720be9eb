"""The Spark tier's one Boolean combine: every BooleanQuery and
DisjunctionMaxQuery that mixes plain terms with other clauses is one
prune.Shape (its non-term clauses are ``others``), scored by
Searcher._eval_flat — one scored_postings pass for its term clauses, one
_eval per other clause, then search._combine.

Each shape's result must equal its clauses' own ``matches`` combined here
with BooleanScorer's rules (sum over the docs matching every MUST clause and
minimum_should_match SHOULD clauses, FILTER / MUST_NOT as set tests) or
DisjunctionMaxScorer's (max + tie × (sum − max)), then the outer boost; the
term + phrase shapes must also equal the brute-force oracle. float32
Searchers must agree bit for bit (a few float32 scores sum exactly in
double), float64 Searchers within 2 ulp (the per-doc sum runs in row
order)."""

import numpy as np
import pytest

from lucene_spark.build import IndexConfig, build_index
from lucene_spark.query import (
    ConstantScoreQuery,
    DisjunctionMaxQuery,
    Occur,
    PhraseQuery,
    PrefixQuery,
    TermQuery,
    bool_query,
)
from lucene_spark.search import Searcher

from oracle import BruteForceIndex, make_corpus

VOCAB = [
    "the", "a", "of", "spark", "index", "merge", "block", "alpha", "beta",
    "gamma", "delta", "query", "term", "score", "data", "value", "alpine", "alps",
]
N_DOCS = 400
DELETED = frozenset(range(0, N_DOCS, 7))


def t(w, b=1.0):
    return TermQuery(term=w, boost=b)


PH = PhraseQuery(terms=("spark", "index"))
SHAPES = {
    "must_phrase_terms": bool_query(must=[PH, t("merge")], should=[t("alpha"), t("beta")]),
    "should_mixed": bool_query(should=[PH, t("merge"), t("gamma")]),
    "msm2": bool_query(must=[PH], should=[t("merge"), t("alpha"), t("the")], msm=2),
    "repeated_term": bool_query(must=[PH], should=[t("spark"), t("spark", 2.0), t("delta")]),
    "filter_must_not": bool_query(must=[t("merge")], should=[PH, t("data")],
                                  filter=[t("the")], must_not=[t("beta")]),
    "outer_boost": bool_query(must=[PH], should=[t("value"), t("query")], boost=2.5),
    "dismax_phrase": DisjunctionMaxQuery(disjuncts=(PH, t("merge"), t("alpha", 1.5)),
                                         tie_breaker=0.3, boost=1.7),
    "nested_bool": bool_query(must=[bool_query(should=[t("merge"), t("alpha")])],
                              should=[PH, t("term")]),
    "prefix_clause": bool_query(must=[t("score")], should=[PrefixQuery(prefix="alp"), t("gamma")]),
    "const_clause": bool_query(should=[ConstantScoreQuery(query=t("merge"), boost=0.5),
                                       t("delta"), PH]),
}
ORACLE_SHAPES = ("must_phrase_terms", "should_mixed", "msm2", "repeated_term",
                 "filter_must_not", "outer_boost", "dismax_phrase", "nested_bool")


@pytest.fixture(scope="module")
def corpus():
    return make_corpus(N_DOCS, VOCAB, seed=11, min_len=3, max_len=40)


@pytest.fixture(scope="module")
def built(spark, corpus):
    df = spark.createDataFrame(list(enumerate(corpus)), "doc_id long, content string")
    cfg = IndexConfig(seg_size=64, block_size=16, with_positions=True)
    idx = build_index(df, cfg, doc_id_col="doc_id").persist()
    yield idx
    idx.unpersist()


@pytest.fixture(scope="module")
def searchers(built):
    """(dtype name, deleted) -> (Searcher, its memo of clause matches)."""
    deleted = built.delete_docs(sorted(DELETED))
    return {(dt.__name__, d): (Searcher(deleted if d else built, dtype=dt), {})
            for dt in (np.float32, np.float64) for d in (False, True)}


def _combine(q, hits) -> dict:
    """{doc: score} of a bool / dismax from ``hits(clause)`` of each clause,
    by BooleanScorer's and DisjunctionMaxScorer's rules."""
    if isinstance(q, DisjunctionMaxQuery):
        parts = [hits(d) for d in q.disjuncts]
        out = {}
        for doc in set().union(*parts):
            ss = [p[doc] for p in parts if doc in p]
            mx = max(ss)
            out[doc] = (mx + q.tie_breaker * (sum(ss) - mx)) * q.boost
        return out
    by = {o: [(c.query, hits(c.query)) for c in q.clauses if c.occur == o] for o in Occur}
    must, should = by[Occur.MUST], by[Occur.SHOULD]
    need = q.minimum_should_match if must else max(q.minimum_should_match, 1)
    out = {}
    for doc in set().union(*(h for _q, h in must + should)):
        if (all(doc in h for _q, h in must + by[Occur.FILTER])
                and not any(doc in h for _q, h in by[Occur.MUST_NOT])
                and sum(doc in h for _q, h in should) >= need):
            out[doc] = sum(h[doc] for _q, h in must + should if doc in h) * q.boost
    return out


def _rows(df) -> dict:
    rows = [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]
    got = dict(rows)
    assert len(got) == len(rows), "a doc matched twice"
    return got


def _assert_same(got: dict, exp: dict, dtype: str):
    assert sorted(got) == sorted(exp)
    for doc, e in exp.items():
        if dtype == "float32":
            assert got[doc] == e, (doc, got[doc], e)
        else:
            assert abs(got[doc] - e) <= 2 * np.spacing(e), (doc, got[doc], e)


@pytest.mark.parametrize("deleted", [False, True], ids=["plain", "deleted"])
@pytest.mark.parametrize("dtype", ["float32", "float64"])
@pytest.mark.parametrize("name", list(SHAPES))
def test_mixed_shape_equals_its_clauses_combined(searchers, name, dtype, deleted):
    s, memo = searchers[(dtype, deleted)]

    def hits(sub):
        if sub not in memo:
            memo[sub] = _rows(s.matches(sub))
        return memo[sub]

    q = SHAPES[name]
    exp = _combine(q, hits)
    assert exp, "the shape must match some docs"
    _assert_same(_rows(s.matches(q)), exp, dtype)
    # the fast tiers decline a mixed shape for its shape, as before
    p = s.plan(q, 10)
    assert (p.tier, p.declined) == ("eval", [("hot", "shape"), ("wand", "shape")])


@pytest.mark.parametrize("deleted", [False, True], ids=["plain", "deleted"])
@pytest.mark.parametrize("name", ORACLE_SHAPES)
def test_term_phrase_shape_equals_oracle(searchers, corpus, name, deleted):
    oracle = BruteForceIndex(corpus)
    gone = DELETED if deleted else frozenset()

    def hits(sub):
        if isinstance(sub, TermQuery):
            sc = oracle.score_term(sub.term, sub.boost)
        elif isinstance(sub, PhraseQuery):
            sc = oracle.score_phrase(sub.terms, sub.boost)
        else:
            return _combine(sub, hits)
        return {d: float(v) for d, v in sc.items() if d not in gone}

    s, _memo = searchers[("float32", deleted)]
    _assert_same(_rows(s.matches(SHAPES[name])), _combine(SHAPES[name], hits), "float32")


def _map_in_pandas_nodes(plan) -> int:
    """MapInPandas nodes of a physical plan not yet run (an AQE plan's
    current tree), not counting the plan of a cached relation."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        return _map_in_pandas_nodes(plan.executedPlan())
    kids = plan.children()
    return (plan.nodeName() == "MapInPandas") + sum(
        _map_in_pandas_nodes(kids.apply(i)) for i in range(kids.size()))


def test_mixed_bool_decodes_term_clauses_in_one_pass(searchers):
    """``must=[phrase], should=[t1, t2, t3]``: one decode stage for the
    phrase and one for all three terms (one per term clause before: 4)."""
    s, _memo = searchers[("float32", False)]
    q = bool_query(must=[PH], should=[t("merge"), t("alpha"), t("the")])
    plan = s.search(q, 10, prune=False)._jdf.queryExecution().executedPlan()
    assert _map_in_pandas_nodes(plan) == 2, plan.toString()
