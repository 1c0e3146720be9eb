"""Multi-field search: field-qualified leaves route to per-field indexes
(per-field statistics), boolean algebra combines on the global doc_id."""

import numpy as np
import pytest

from lucene_spark.build import IndexConfig, build_index
from lucene_spark.query import DisjunctionMaxQuery, TermQuery, bool_query, parse
from lucene_spark.search import MultiFieldSearcher, Searcher

import os, sys
sys.path.insert(0, os.path.dirname(__file__))
from oracle import BruteForceIndex, make_corpus


@pytest.fixture(scope="module")
def fields(spark):
    body = make_corpus(200, ["the", "spark", "merge", "red", "blue"], seed=11)
    tags = ["red hot" if i % 3 == 0 else "blue cold" for i in range(200)]
    df = spark.createDataFrame(
        [(i, b, t) for i, (b, t) in enumerate(zip(body, tags))],
        "doc_id long, body string, tag string",
    )
    cfg = IndexConfig(seg_size=64, with_positions=True)
    idx_body = build_index(df, cfg, content_col="body", doc_id_col="doc_id",
                           auto_seg_size=False, eager=True)
    idx_tag = build_index(df, cfg, content_col="tag", doc_id_col="doc_id",
                          auto_seg_size=False, eager=True)
    yield {
        "body": body, "tags": tags,
        "s": MultiFieldSearcher(
            {"body": Searcher(idx_body, dtype=np.float32),
             "tag": Searcher(idx_tag, dtype=np.float32)},
            default_field="body",
        ),
        "o_body": BruteForceIndex(body),
        "o_tag": BruteForceIndex(tags),
    }
    idx_body.unpersist()
    idx_tag.unpersist()


def _got(df):
    return [(int(r["doc_id"]), np.float32(r["score"])) for r in df.collect()]


def test_fielded_term_routes_to_field_index(fields, monkeypatch):
    s, o_tag = fields["s"], fields["o_tag"]
    exp = BruteForceIndex.topk(o_tag.score_term("red"), 10)
    got = _got(s.search(TermQuery(term="red", field="tag"), 10))
    assert got == [(d, np.float32(v)) for d, v in exp]
    # unqualified term uses the default (body) field
    exp_b = BruteForceIndex.topk(fields["o_body"].score_term("spark"), 10)
    assert _got(s.search(TermQuery(term="spark"), 10)) == [
        (d, np.float32(v)) for d, v in exp_b
    ]
    # top_docs routes the same way, with the hot cache off (WAND would
    # otherwise serve) and on (the hot tier would)
    for hot in ("0", "1000000"):
        monkeypatch.setenv("LUCENE_SPARK_HOT_CACHE_POSTINGS", hot)
        got = s.top_docs(TermQuery(term="red", field="tag"), 5)
        assert [(d, np.float32(v)) for d, v in got] == [
            (d, np.float32(v)) for d, v in exp[:5]
        ], hot
        assert s.plan(TermQuery(term="red", field="tag"), 5).tier == "eval"
    # a flat bool and a dismax of field-qualified terms score each term on
    # its field's index, not on the default field's postings
    tag = lambda w: TermQuery(term=w, field="tag")
    q = bool_query(should=[tag("red"), tag("hot"), tag("blue")])
    exp = BruteForceIndex.topk(o_tag.score_bool(should=["red", "hot", "blue"]), 10)
    assert _got(s.search(q, 10, prune=False)) == [(d, np.float32(v)) for d, v in exp]
    runs = [o_tag.score_term(w) for w in ("red", "hot", "cold")]
    dm = {}
    for d in set().union(*runs):
        sc = [float(r[d]) for r in runs if d in r]
        dm[d] = np.float32(max(sc) + 0.5 * (sum(sc) - max(sc)))
    q = DisjunctionMaxQuery(disjuncts=(tag("red"), tag("hot"), tag("cold")),
                            tie_breaker=0.5)
    assert _got(s.search(q, 10, prune=False)) == [
        (d, np.float32(v)) for d, v in BruteForceIndex.topk(dm, 10)
    ]


def test_cross_field_boolean(fields):
    s, o_body, o_tag = fields["s"], fields["o_body"], fields["o_tag"]
    q = bool_query(must=[TermQuery(term="spark"), TermQuery(term="red", field="tag")])
    got = _got(s.search(q, 10))
    b = o_body.score_term("spark")
    t = o_tag.score_term("red")
    both = {d: np.float32(np.float64(b[d]) + np.float64(t[d]))
            for d in b if d in t}
    exp = BruteForceIndex.topk(both, 10)
    assert got == [(d, np.float32(v)) for d, v in exp]


def test_parsed_field_query_end_to_end(fields):
    s = fields["s"]
    q = parse("tag:red AND spark")
    got = _got(s.search(q, 10))
    assert len(got) > 0
    # identical to the hand-built query
    q2 = bool_query(must=[TermQuery(term="red", field="tag"), TermQuery(term="spark")])
    assert got == _got(s.search(q2, 10))


def test_unknown_field_matches_nothing(fields):
    s = fields["s"]
    assert s.search(TermQuery(term="red", field="nope"), 10).count() == 0
