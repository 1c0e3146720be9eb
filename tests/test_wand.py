"""Block-max WAND (prune.py) against the exhaustive `_eval` path and an
independent brute-force scorer, across similarities, boosts and query
shapes: the bound kernel has a vectorized BM25 branch and a per-row
`max_score` fallback for every other similarity, and a bound that falls
below a real score silently drops hits instead of failing."""

import math

import numpy as np
import pytest

from lucene_spark import codec, prune
from lucene_spark.build import IndexConfig, build_index
from lucene_spark.query import TermQuery, bool_query
from lucene_spark.search import Searcher
from lucene_spark.similarities import BM25, Boolean, Classic
from lucene_spark.smallfloat import byte4_to_int

from oracle import BruteForceIndex, make_corpus

VOCAB = ["the", "spark", "merge", "index", "block", "score", "alpha",
         "beta", "gamma", "delta", "rare"]
N_DOCS = 400
DELETED = list(range(0, N_DOCS, 7)) + [1, 2, 3]
K = 10

SHAPES = {
    "term": ("or", ["spark"]),
    "or3": ("or", ["the", "merge", "gamma"]),
    "and2": ("and", ["spark", "index"]),
}
SIMS = {"bm25": BM25, "classic": Classic, "boolean": Boolean}


@pytest.fixture(scope="module")
def corpus():
    return make_corpus(N_DOCS, VOCAB, seed=11, min_len=1, max_len=40)


@pytest.fixture(scope="module")
def oracle(corpus):
    return BruteForceIndex(corpus)


def _build(spark, corpus):
    # small segments and blocks: many blocks per term over several segments
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, content string"
    )
    return build_index(
        df, IndexConfig(seg_size=64, block_size=16), doc_id_col="doc_id",
        auto_seg_size=False, eager=True,
    )


@pytest.fixture(scope="module")
def built(spark, corpus):
    idx = _build(spark, corpus)
    yield idx
    idx.unpersist()


@pytest.fixture(scope="module")
def searchers(built):
    deleted = built.delete_docs(DELETED)
    return {name: Searcher(deleted, dtype=np.float32, similarity=sim())
            for name, sim in SIMS.items()}


def _term_scores(oracle, sim: str, term: str, boost: float):
    """Per-doc float32 score of one term clause, doc at a time."""
    if sim == "bm25":
        return oracle.score_term(term, boost)
    out = {}
    if sim == "boolean":
        for d, tf in enumerate(oracle.tfs):
            if term in tf:
                out[d] = np.float32(boost)
        return out
    # ClassicSimilarity: sqrt(tf) * (boost * idf) * 1/sqrt(length)
    idf = np.float32(
        math.log((oracle.doc_count + 1) / float(oracle.doc_freq(term) + 1)) + 1.0
    )
    w = np.float32(boost) * idf
    for d, tf in enumerate(oracle.tfs):
        if term in tf:
            norm = np.float32(1.0 / math.sqrt(int(byte4_to_int(oracle.norms[d]))))
            tfv = np.float32(math.sqrt(np.float32(tf[term])))
            out[d] = np.float32(np.float32(tfv * w) * norm)
    return out


def _oracle_topk(oracle, sim, mode, terms, boost, deleted=()):
    per_term = [_term_scores(oracle, sim, t, boost) for t in terms]
    out = {}
    for d in range(oracle.doc_count):
        if d in deleted:
            continue
        hit = [sc[d] for sc in per_term if d in sc]
        if not hit or (mode == "and" and len(hit) < len(terms)):
            continue
        out[d] = np.float32(sum(float(x) for x in hit))
    return BruteForceIndex.topk(out, K)


def _query(mode, terms, boost):
    tqs = [TermQuery(term=t, boost=boost) for t in terms]
    if len(tqs) == 1:
        return tqs[0]
    return bool_query(**{"should" if mode == "or" else "must": tqs})


def _f32(rows):
    return [(int(d), np.float32(s)) for d, s in rows]


@pytest.mark.parametrize("shape", list(SHAPES))
@pytest.mark.parametrize("boost", [0.3, 1.0, 2.5])
@pytest.mark.parametrize("sim", list(SIMS))
def test_wand_equals_exhaustive_and_oracle(searchers, oracle, monkeypatch,
                                           sim, boost, shape):
    monkeypatch.setenv("LUCENE_SPARK_MIN_PRUNABLE", "0")
    s = searchers[sim]
    mode, terms = SHAPES[shape]
    q = _query(mode, terms, boost)
    wand = prune.try_pruned_topk_rows(s, q, K)
    assert wand is not None, "query did not reach WAND"
    exhaustive = [
        (r["doc_id"], r["score"]) for r in s._topk(s.matches(q), K).collect()
    ]
    exp = _oracle_topk(oracle, sim, mode, terms, boost, set(DELETED))
    assert len(exp) == K
    assert _f32(exhaustive) == _f32(exp)
    assert _f32(wand) == _f32(exp)


def test_boolean_similarity_fractional_boost_keeps_every_hit(
    spark, built, monkeypatch
):
    # float32(0.3) rounds up: a bound of float(0.3) sat below every score,
    # so WAND pruned every block and returned no hits at all
    monkeypatch.setenv("LUCENE_SPARK_MIN_PRUNABLE", "0")
    s = Searcher(built, dtype=np.float32, similarity=Boolean())
    q = TermQuery(term="spark", boost=0.3)
    exp = [(r["doc_id"], r["score"]) for r in s._topk(s.matches(q), K).collect()]
    assert len(exp) == K
    assert _f32(prune.try_pruned_topk_rows(s, q, K)) == _f32(exp)


@pytest.mark.parametrize("sim", list(SIMS))
def test_block_bound_kernel_bounds_every_block(searchers, sim):
    # ub is at least, and ach at most, the float32 score of the block's
    # best doc, on both branches of the kernel
    s = searchers[sim]
    scorers = {
        t: s.scorer_for(b, s.term_stats([t])[t])
        for t, b in (("the", 0.3), ("spark", 1.0), ("rare", 2.5))
    }
    pdf = s.index.postings.filter(
        s.index.postings.term.isin(list(scorers))
    ).toPandas()
    ub, ach = prune._block_bound_fn(scorers)(pdf, achieved=True)
    d = codec.decode_blocks(pdf)
    for i, t in enumerate(pdf["term"]):
        at = d.row == i
        best = float(scorers[t].score(d.freqs[at], d.norms[at]).max())
        assert ach[i] <= best <= ub[i]
