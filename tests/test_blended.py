"""BlendedTermQuery vs a brute-force oracle using the reference's
artificial statistics (core/search/BlendedTermQuery.java:271-300):
df = max(df_i), ttf = sum(ttf_i), per-term boosts, dismax/boolean
combination."""

import math

import numpy as np
import pytest

from lucene_spark.build import IndexConfig, build_index
from lucene_spark.query import BlendedTermQuery
from lucene_spark.search import Searcher

import os, sys
sys.path.insert(0, os.path.dirname(__file__))
from oracle import BruteForceIndex, make_corpus

f32 = np.float32


@pytest.fixture(scope="module")
def bl(spark):
    texts = make_corpus(180, ["red", "blue", "rare", "spark", "the"], seed=51)
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    idx = build_index(
        df, IndexConfig(seg_size=64, with_positions=False),
        content_col="text", doc_id_col="doc_id",
        auto_seg_size=False, eager=True,
    )
    yield {"s": Searcher(idx, dtype=np.float32), "o": BruteForceIndex(texts)}
    idx.unpersist()


def brute_blended(o, terms, boosts, tie, rewrite):
    df_art = max(o.doc_freq(t) for t in terms)
    idf = f32(math.log(1.0 + (o.doc_count - df_art + 0.5) / (df_art + 0.5)))
    per_term = []
    for t, b in zip(terms, boosts):
        w = f32(b) * idf
        sc = {}
        for d, tf in enumerate(o.tfs):
            if t in tf:
                inv = o.cache[o.norms[d]]
                sc[d] = w - w / (f32(1.0) + f32(tf[t]) * inv)
        per_term.append(sc)
    out = {}
    for d in set().union(*per_term):
        vals = [float(sc[d]) for sc in per_term if d in sc]
        if rewrite == "boolean":
            out[d] = f32(sum(vals))
        else:
            mx = max(vals)
            out[d] = f32(mx + tie * (sum(vals) - mx))
    return out


def _got(df):
    return [(int(r["doc_id"]), np.float32(r["score"])) for r in df.collect()]


def _brute_force_cases():
    """rewrite × tie × terms × prune; the base terms under prune=True keep
    the bare rewrite-tie id."""
    terms = {
        "": (("rare", "red"), (1.0, 2.0)),
        # a repeated term scores every occurrence, on every tier
        "-repeat": (("red", "red", "blue"), (1.0, 2.0, 1.0)),
    }
    return [
        pytest.param(rewrite, tie, ts, bs, prune,
                     id=f"{rewrite}-{tie}{sfx}{'' if prune else '-noprune'}")
        for rewrite, tie in [("dismax", 0.01), ("dismax", 0.35), ("boolean", 0.0)]
        for sfx, (ts, bs) in terms.items()
        for prune in (True, False)
    ]


@pytest.mark.parametrize("rewrite,tie,terms,boosts,prune", _brute_force_cases())
def test_blended_matches_brute_force(bl, monkeypatch, rewrite, tie, terms,
                                     boosts, prune):
    """prune=True runs the planner with the hot cache on (the hot tier
    serves blended); prune=False the exhaustive Spark evaluation."""
    s, o = bl["s"], bl["o"]
    monkeypatch.setenv("LUCENE_SPARK_HOT_CACHE_POSTINGS",
                       "10000000" if prune else "0")
    q = BlendedTermQuery(terms=terms, boosts=boosts, tie_breaker=tie,
                         rewrite=rewrite)
    exp = BruteForceIndex.topk(
        brute_blended(o, terms, boosts, tie, rewrite), 10
    )
    assert s.plan(q, 10).tier == ("hot" if prune else "eval")
    got = _got(s.search(q, 10, prune=prune))
    assert got == [(d, np.float32(v)) for d, v in exp]


def test_blended_uses_artificial_df(bl):
    """'rare' must be scored with max(df) — its scores differ from a
    plain TermQuery('rare')."""
    from lucene_spark.query import TermQuery

    s, o = bl["s"], bl["o"]
    assert o.doc_freq("rare") < o.doc_freq("red")
    blended = dict(_got(s.search(
        BlendedTermQuery(terms=("rare", "red"), rewrite="dismax",
                         tie_breaker=0.0),
        200,
    )))
    plain = dict(_got(s.search(TermQuery(term="rare"), 200)))
    only_rare = [d for d in plain
                 if "red" not in o.tfs[d] and d in blended]
    assert only_rare
    assert all(blended[d] < plain[d] for d in only_rare)


def test_blended_absent_terms_skipped(bl):
    got = _got(bl["s"].search(
        BlendedTermQuery(terms=("zzznope", "red"), rewrite="dismax"), 5
    ))
    assert len(got) == 5  # 'red' alone, blended stats = red's own


def test_blended_boost_len_mismatch_raises(bl):
    with pytest.raises(ValueError):
        bl["s"].search(
            BlendedTermQuery(terms=("red", "blue"), boosts=(1.0,)), 5
        ).collect()
