"""Block-join family vs a brute-force oracle.

Blocks are doc_id adjacency (children precede their parent), parents
identified by a filter — the reference's BitSetProducer contract
(join/ToParentBlockJoinQuery.java, ToChildBlockJoinQuery.java,
ParentChildrenBlockJoinQuery.java). Parent scores aggregate child scores
in double (Total/Avg sum + divide, Min/Max fold, None = 0) per
ToParentBlockJoinQuery.java:352-394.
"""

import numpy as np
import pytest

from lucene_spark.build import IndexConfig, build_index
from lucene_spark.query import (
    ParentChildrenBlockJoinQuery,
    TermQuery,
    ToChildBlockJoinQuery,
    ToParentBlockJoinQuery,
)
from lucene_spark import search
from lucene_spark.search import Searcher

import os, sys
sys.path.insert(0, os.path.dirname(__file__))
from oracle import BruteForceIndex, make_corpus

f32 = np.float32
BLOCK = 5  # children at doc_id % BLOCK in 0..3, parent at % BLOCK == 4
PARENTS_EXPR = f"doc_id % {BLOCK} = {BLOCK - 1}"


@pytest.fixture(scope="module")
def bj(spark):
    texts = make_corpus(200, ["red", "blue", "green", "spark", "the"], seed=31)
    # parents use a DISJOINT vocabulary (a child query matching a parent
    # doc is an error by contract) plus a marker token
    ptexts = make_corpus(200, ["order", "header", "meta"], seed=32)
    texts = [
        (ptexts[i] + " parentdoc") if i % BLOCK == BLOCK - 1 else t
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    idx = build_index(
        df, IndexConfig(seg_size=64), content_col="text",
        doc_id_col="doc_id", auto_seg_size=False, eager=True,
    )
    yield {
        "texts": texts,
        "s": Searcher(idx, dtype=np.float32),
        "o": BruteForceIndex(texts),
    }
    idx.unpersist()


def brute_to_parent(oracle, term, mode, n_docs):
    child = oracle.score_term(term)
    out = {}
    for p in range(BLOCK - 1, n_docs, BLOCK):
        kids = [d for d in range(p - BLOCK + 1, p) if d in child]
        if not kids:
            continue
        if mode == "none":
            out[p] = f32(0.0)
            continue
        sc = [float(child[d]) for d in sorted(kids)]
        if mode in ("total", "avg"):
            s = 0.0
            for v in sc:
                s += v
            if mode == "avg":
                s /= len(sc)
        elif mode == "min":
            s = min(sc)
        else:
            s = max(sc)
        out[p] = f32(s)
    return out


def _got(df):
    return [(int(r["doc_id"]), np.float32(r["score"])) for r in df.collect()]


@pytest.mark.parametrize("mode", ["none", "avg", "max", "total", "min"])
def test_to_parent_matches_brute_force(bj, mode):
    s, o = bj["s"], bj["o"]
    exp = BruteForceIndex.topk(
        brute_to_parent(o, "red", mode, len(bj["texts"])), 10
    )
    got = _got(s.search(
        ToParentBlockJoinQuery(
            child=TermQuery(term="red"), parents=PARENTS_EXPR,
            score_mode=mode,
        ),
        10,
    ))
    assert got == [(d, np.float32(v)) for d, v in exp]


def test_to_parent_tiny_buckets_cross_boundary(bj, monkeypatch):
    """Bucket fixup path: buckets smaller than a block force cross-bucket
    parent resolution through the driver suffix-min."""
    monkeypatch.setattr(search, "_BLOCKJOIN_BUCKET", 3)
    s = Searcher(bj["s"].index, dtype=np.float32)  # fresh map cache
    exp = BruteForceIndex.topk(
        brute_to_parent(bj["o"], "red", "max", len(bj["texts"])), 10
    )
    got = _got(s.search(
        ToParentBlockJoinQuery(
            child=TermQuery(term="red"), parents=PARENTS_EXPR,
            score_mode="max",
        ),
        10,
    ))
    assert got == [(d, np.float32(v)) for d, v in exp]


def test_to_parent_child_matching_parent_raises(bj):
    # 'parentdoc' occurs on parent docs themselves
    with pytest.raises(Exception, match="must not match same docs"):
        bj["s"].search(
            ToParentBlockJoinQuery(
                child=TermQuery(term="parentdoc"), parents=PARENTS_EXPR,
                score_mode="max",
            ),
            10,
        ).collect()


def test_to_parent_parents_as_query(bj):
    """Parents given as a Query (QueryBitSetProducer role) instead of a
    SQL expression — identical result."""
    exp = _got(bj["s"].search(
        ToParentBlockJoinQuery(
            child=TermQuery(term="blue"), parents=PARENTS_EXPR,
            score_mode="total",
        ),
        10,
    ))
    got = _got(bj["s"].search(
        ToParentBlockJoinQuery(
            child=TermQuery(term="blue"),
            parents=TermQuery(term="parentdoc"),
            score_mode="total",
        ),
        10,
    ))
    assert got == exp


def test_to_child_fans_out_parent_scores(bj):
    s, o = bj["s"], bj["o"]
    pscores = o.score_term("parentdoc")  # parent-only term
    exp = {}
    for p, v in pscores.items():
        for d in range(p - BLOCK + 1, p):
            exp[d] = f32(v)
    expected = BruteForceIndex.topk(exp, 15)
    got = _got(s.search(
        ToChildBlockJoinQuery(
            parent=TermQuery(term="parentdoc"), parents=PARENTS_EXPR,
            do_scores=True,
        ),
        15,
    ))
    assert got == [(d, np.float32(v)) for d, v in expected]


def test_to_child_no_scores(bj):
    got = _got(bj["s"].search(
        ToChildBlockJoinQuery(
            parent=TermQuery(term="parentdoc"), parents=PARENTS_EXPR,
            do_scores=False,
        ),
        15,
    ))
    assert len(got) == 15
    assert all(v == 0.0 for _d, v in got)


def test_to_child_parent_query_matching_child_raises(bj):
    with pytest.raises(Exception, match="must not match child docs"):
        bj["s"].search(
            ToChildBlockJoinQuery(
                parent=TermQuery(term="red"),  # matches child docs
                parents=PARENTS_EXPR,
            ),
            10,
        ).collect()


def test_parent_children(bj):
    s, o = bj["s"], bj["o"]
    child = o.score_term("red")
    # first parent with >= 1 matching child
    target = None
    for p in range(BLOCK - 1, len(bj["texts"]), BLOCK):
        kids = [d for d in range(p - BLOCK + 1, p) if d in child]
        if kids:
            target = (p, kids)
            break
    assert target is not None
    p, kids = target
    got = _got(s.search(
        ParentChildrenBlockJoinQuery(
            parent_doc_id=p, child=TermQuery(term="red"),
            parents=PARENTS_EXPR,
        ),
        10,
    ))
    exp = BruteForceIndex.topk({d: child[d] for d in kids}, 10)
    assert got == [(d, np.float32(v)) for d, v in exp]


def test_check_join_index_valid(bj):
    bj["s"].check_join_index(PARENTS_EXPR)  # must not raise


def test_check_join_index_no_parents(bj):
    with pytest.raises(Exception, match="at least one parent"):
        bj["s"].check_join_index("doc_id < 0")


def test_check_join_index_child_tail(bj):
    # parents only in the first half: the tail has children with no parent
    with pytest.raises(Exception, match="last document"):
        bj["s"].check_join_index(
            f"doc_id % {BLOCK} = {BLOCK - 1} AND doc_id < 100"
        )


def test_check_join_index_mixed_deletes(bj, spark):
    # delete ONE child only: its block is now mixed live/deleted
    idx2 = bj["s"].index.delete_docs([0])
    s2 = Searcher(idx2, dtype=np.float32)
    with pytest.raises(Exception, match="deleted together"):
        s2.check_join_index(PARENTS_EXPR)
    # deleting the whole block restores consistency
    idx3 = bj["s"].index.delete_docs(list(range(BLOCK)))
    s3 = Searcher(idx3, dtype=np.float32)
    s3.check_join_index(PARENTS_EXPR)


@pytest.mark.parametrize("seed,block,mode", [(1, 3, "total"), (2, 7, "avg"),
                                             (3, 4, "min")])
def test_to_parent_random_shapes(spark, seed, block, mode):
    """Randomized block sizes/corpora vs brute force — the parent-map
    machinery must be shape-independent."""
    texts = make_corpus(90, ["red", "blue", "green"], seed=seed * 13)
    ptexts = make_corpus(90, ["hdr", "meta"], seed=seed * 13 + 1)
    texts = [
        (ptexts[i] + " parentdoc") if i % block == block - 1 else t
        for i, t in enumerate(texts)
    ]
    # drop the trailing partial block's tail docs so blocks stay well formed
    n = (len(texts) // block) * block
    texts = texts[:n]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    idx = build_index(
        df, IndexConfig(seg_size=32), content_col="text",
        doc_id_col="doc_id", auto_seg_size=False, eager=True,
    )
    s = Searcher(idx, dtype=np.float32)
    o = BruteForceIndex(texts)
    child = o.score_term("red")
    exp = {}
    for p in range(block - 1, n, block):
        kids = sorted(d for d in range(p - block + 1, p) if d in child)
        if not kids:
            continue
        sc = [float(child[d]) for d in kids]
        if mode == "total":
            v = 0.0
            for x in sc:
                v += x
        elif mode == "avg":
            v = 0.0
            for x in sc:
                v += x
            v /= len(sc)
        else:
            v = min(sc)
        exp[p] = f32(v)
    expected = BruteForceIndex.topk(exp, 10)
    got = _got(s.search(
        ToParentBlockJoinQuery(
            child=TermQuery(term="red"),
            parents=f"doc_id % {block} = {block - 1}",
            score_mode=mode,
        ),
        10,
    ))
    assert got == [(d, np.float32(v)) for d, v in expected]
    idx.unpersist()
