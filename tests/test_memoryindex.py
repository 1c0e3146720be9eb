"""MemoryIndex (memory/MemoryIndex.java analog): driver-local single-doc
scoring must equal a real one-document Searcher — same similarity objects,
same matcher kernels, same f32 op order — across the supported operator
battery, and must run zero Spark jobs."""

import numpy as np
import pytest

from lucene_spark.memoryindex import MemoryIndex
from lucene_spark.query import (
    BooleanClause,
    BooleanQuery,
    ConstantScoreQuery,
    DisjunctionMaxQuery,
    FuzzyQuery,
    MatchAllDocsQuery,
    MatchNoDocsQuery,
    MultiPhraseQuery,
    Occur,
    PhraseQuery,
    PrefixQuery,
    RegexpQuery,
    SynonymQuery,
    TermInSetQuery,
    TermQuery,
    TermRangeQuery,
    WildcardQuery,
    bool_query,
)

TEXT = (
    "the quick brown fox jumps over the lazy dog while the quick dog "
    "barks at the brown fox again and again"
)

QUERIES = [
    TermQuery(term="quick"),
    TermQuery(term="fox", boost=2.5),
    TermQuery(term="absent"),
    bool_query(must=[TermQuery(term="quick"), TermQuery(term="dog")]),
    bool_query(should=[TermQuery(term="fox"), TermQuery(term="absent")]),
    bool_query(
        should=[TermQuery(term="fox"), TermQuery(term="dog"),
                TermQuery(term="absent")],
        msm=2,
    ),
    bool_query(must=[TermQuery(term="fox")], must_not=[TermQuery(term="cat")]),
    bool_query(must=[TermQuery(term="fox")], must_not=[TermQuery(term="dog")]),
    bool_query(filter=[TermQuery(term="lazy")]),
    PhraseQuery(terms=("quick", "brown", "fox")),
    PhraseQuery(terms=("quick", "fox"), slop=1),
    PhraseQuery(terms=("the", "quick", "the"), slop=6),  # repeat lattice
    PhraseQuery(terms=("fox", "quick")),  # no exact match
    MultiPhraseQuery(slots=(("quick", "lazy"), ("dog",))),
    MultiPhraseQuery(slots=(("quick", "brown"), ("fox", "dog")), slop=2),
    SynonymQuery(terms=("fox", "dog")),
    DisjunctionMaxQuery(
        disjuncts=(TermQuery(term="fox"), TermQuery(term="dog")),
        tie_breaker=0.3,
    ),
    ConstantScoreQuery(query=TermQuery(term="fox"), boost=3.0),
    MatchAllDocsQuery(),
    MatchNoDocsQuery(),
    PrefixQuery(prefix="qui"),
    PrefixQuery(prefix="zz"),
    WildcardQuery(pattern="b?own"),
    RegexpQuery(regexp="f.x|d.g"),
    FuzzyQuery(term="quik", max_edits=1),
    FuzzyQuery(term="qiuck", max_edits=1, transpositions=True),
    FuzzyQuery(term="qiuck", max_edits=1, transpositions=False),
    TermRangeQuery(lower="dog", upper="fox", include_lower=True,
                   include_upper=False),
    TermInSetQuery(terms=frozenset({"lazy", "zebra"})),
]


@pytest.fixture(scope="module")
def one_doc_searcher(spark):
    from lucene_spark.build import IndexConfig, build_index
    from lucene_spark.search import Searcher

    df = spark.createDataFrame([(0, TEXT)], "doc_id long, text string")
    idx = build_index(
        df, IndexConfig(seg_size=8), content_col="text",
        doc_id_col="doc_id", auto_seg_size=False, eager=True,
    )
    yield Searcher(idx, dtype=np.float32)
    idx.unpersist()


@pytest.mark.parametrize("q", QUERIES, ids=lambda q: repr(q)[:60])
def test_parity_with_one_doc_searcher(one_doc_searcher, q):
    mi = MemoryIndex(TEXT)
    rows = one_doc_searcher.search(q, 10, prune=False).collect()
    if not rows:
        assert not mi.matches(q)
        assert mi.search(q) == 0.0
    else:
        assert mi.matches(q)
        assert mi.search(q) == pytest.approx(float(rows[0]["score"]), rel=1e-6)


def test_parity_with_explain(one_doc_searcher):
    mi = MemoryIndex(TEXT)
    for q in [
        TermQuery(term="quick"),
        bool_query(must=[TermQuery(term="quick"), TermQuery(term="dog")]),
        PhraseQuery(terms=("quick", "fox"), slop=1),
    ]:
        e = one_doc_searcher.explain(q, 0)
        assert e.matched == mi.matches(q)
        assert mi.search(q) == pytest.approx(e.value, rel=1e-6)


def test_zero_spark_jobs(spark):
    sc = spark.sparkContext
    sc.setJobGroup("memoryindex_zero_jobs", "memory index job count")
    try:
        mi = MemoryIndex(TEXT)
        for q in QUERIES:
            mi.search(q)
        jobs = sc.statusTracker().getJobIdsForGroup("memoryindex_zero_jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == []


def test_language_chain_doc():
    mi = MemoryIndex("Les chevaux du roi", chain="french")
    assert mi.matches(TermQuery(term="cheval"))
    assert not mi.matches(TermQuery(term="les"))
    assert mi.length == 2  # stop holes excluded from length
    # holes: cheval@1 roi@3 — exact phrase misses, slop 1 hits
    assert not mi.matches(PhraseQuery(terms=("cheval", "roi")))
    assert mi.matches(PhraseQuery(terms=("cheval", "roi"), slop=1))


def test_unsupported_raises():
    from lucene_spark.query import SpanNearQuery

    mi = MemoryIndex(TEXT)
    with pytest.raises(NotImplementedError):
        mi.search(SpanNearQuery(terms=("quick", "fox"), slop=1, in_order=True))
