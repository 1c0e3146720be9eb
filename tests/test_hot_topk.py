"""The hot tier. Spark-free: its linear and k-sized helpers — top-k by
partition (Searcher._rank_rows) and the sort-free merges of sorted doc-id
runs (matchers.intersect_sorted / merge_sorted_runs) — equal the full
sorts they replace. On a real index: a
warm query builds no scorer and re-scores no term, the memoized answers
equal the exhaustive tier bit for bit, score runs count against the
cache budget, eviction is LRU, and a flat OR / AND that repeats a term
is a hot shape."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lucene_spark import matchers
from lucene_spark.bm25 import BM25Scorer
from lucene_spark.build import IndexConfig, build_index
from lucene_spark.query import (
    BlendedTermQuery,
    DisjunctionMaxQuery,
    PhraseQuery,
    SynonymQuery,
    TermQuery,
    bool_query,
)
from lucene_spark.search import Searcher, _hot_size
from lucene_spark.similarities import BM25, Boolean, Classic, LMDirichlet

from oracle import BruteForceIndex, make_corpus

doc_ids = st.lists(st.integers(0, 80), max_size=40, unique=True).map(
    lambda xs: np.asarray(sorted(xs), dtype=np.int64)
)


def _rank(u, tot, k, deleted=None):
    s = object.__new__(Searcher)  # _rank_rows reads only the tombstone snapshot
    s._deleted = deleted
    return s._rank_rows(u, tot, k)


def _rank_by_full_sort(u, tot, k, deleted=None):
    if deleted is not None and len(u):
        keep = ~np.isin(u, deleted)
        u, tot = u[keep], tot[keep]
    order = np.lexsort((u, -tot))[:k]
    return [(int(u[i]), float(tot[i])) for i in order]


@settings(max_examples=400, deadline=None)
@given(
    doc_ids,
    st.data(),
    st.integers(1, 50),
    st.booleans(),
    st.one_of(st.none(), doc_ids),
)
def test_rank_rows_equals_full_lexsort(u, data, k, ties, deleted):
    # tie-heavy scores come from a 3-value set, so the k-th score is
    # usually shared by hits on both sides of the cut
    score = st.sampled_from([0.5, 1.25, 2.0]) if ties else st.floats(0, 10)
    tot = np.asarray(
        data.draw(st.lists(score, min_size=len(u), max_size=len(u))),
        dtype=np.float64,
    )
    rng = np.random.default_rng(len(u))
    perm = rng.permutation(len(u))  # callers' rows are not always doc-sorted
    got = _rank(u[perm], tot[perm], k, deleted)
    assert got == _rank_by_full_sort(u[perm], tot[perm], k, deleted)
    assert all(type(d) is int and type(s) is float for d, s in got)


def test_rank_rows_boundary_ties_keep_lowest_doc_ids():
    u = np.arange(10, dtype=np.int64)[::-1].copy()
    tot = np.array([3.0, 1.0, 1.0, 1.0, 1.0, 2.0, 1.0, 1.0, 1.0, 0.5])
    assert _rank(u, tot, 3) == [(9, 3.0), (4, 2.0), (1, 1.0)]
    assert _rank(u, tot, 3, deleted=np.array([1, 9], np.int64)) == [
        (4, 2.0), (2, 1.0), (3, 1.0)
    ]
    assert _rank(u, tot, 20) == _rank_by_full_sort(u, tot, 20)
    assert _rank(u[:0], tot[:0], 5, deleted=np.array([1], np.int64)) == []


@settings(max_examples=400, deadline=None)
@given(doc_ids, doc_ids)
def test_intersect_sorted_equals_intersect1d(a, b):
    want = np.intersect1d(a, b, assume_unique=True, return_indices=True)
    got = matchers.intersect_sorted(a, b)
    for g, w in zip(got, want):
        np.testing.assert_array_equal(g, w)
        assert g.dtype == w.dtype


@settings(max_examples=400, deadline=None)
@given(st.lists(doc_ids, min_size=1, max_size=4), st.data())
def test_merge_sorted_runs_equals_unique(runs, data):
    cat = np.concatenate(runs)
    w = np.asarray(
        data.draw(st.lists(st.floats(0, 10), min_size=len(cat), max_size=len(cat))),
        dtype=np.float64,
    )
    u, inv, order, starts = matchers.merge_sorted_runs(runs)
    want_u, want_inv = np.unique(cat, return_inverse=True)
    np.testing.assert_array_equal(u, want_u)
    np.testing.assert_array_equal(inv, want_inv)
    # the hot accumulators: same sums bit for bit, and the reduceat max
    # equals the unbuffered scatter max
    np.testing.assert_array_equal(
        np.bincount(inv, weights=w), np.bincount(want_inv, weights=w)
    )
    mx = np.full(len(want_u), -np.inf)
    np.maximum.at(mx, want_inv, w)
    np.testing.assert_array_equal(np.maximum.reduceat(w[order], starts), mx)


# ---- the hot tier on a real index: memoized scorers, kept score runs, LRU

VOCAB = ["the", "spark", "merge", "red", "blue"]


def _texts():
    # "xa" and "xb" share doc_freq 12 but not total_term_freq (12 vs 36):
    # LMDirichlet reads ttf, so a scorer memo keyed on doc_freq alone
    # would score xb with xa's scorer
    base = make_corpus(300, VOCAB, seed=7)
    extra = [f"xa {w}" for w in VOCAB * 2 + VOCAB[:2]]
    extra += [f"xb xb xb {w}" for w in VOCAB * 2 + VOCAB[:2]]
    return base + extra


@pytest.fixture(scope="module")
def built(spark):
    df = spark.createDataFrame(list(enumerate(_texts())), "doc_id long, text string")
    idx = build_index(
        df, IndexConfig(seg_size=64, with_positions=True),
        content_col="text", doc_id_col="doc_id", auto_seg_size=False, eager=True,
    )
    yield idx
    idx.unpersist()


@pytest.fixture
def hot(monkeypatch):
    monkeypatch.setenv("LUCENE_SPARK_HOT_CACHE_POSTINGS", "1000000")


def _shapes(b=1.0):
    """The nine hot shapes (perfbench's pool), every weight under boost b."""
    t = lambda w: TermQuery(term=w, boost=b)
    return {
        "term": t("spark"),
        "or": bool_query(should=[t("spark"), t("merge"), t("red")]),
        "and": bool_query(must=[t("spark"), t("merge")]),
        "synonym": SynonymQuery(terms=("red", "blue"), boost=b),
        "dismax": DisjunctionMaxQuery(disjuncts=(t("spark"), t("blue")), tie_breaker=0.1),
        "blended": BlendedTermQuery(terms=("merge", "red"), boosts=(b, 2.0),
                                    tie_breaker=0.1),
        "phrase": PhraseQuery(terms=("the", "spark"), boost=b),
        "sloppy": PhraseQuery(terms=("the", "spark", "merge"), slop=3, boost=b),
        "sloppy_rpts": PhraseQuery(terms=("the", "spark", "the"), slop=4, boost=b),
    }


def _f32(rows):
    return [(int(d), np.float32(s)) for d, s in rows]


def _exhaustive(idx, q, **kw):
    # a fresh Searcher: its scorers are built anew, not read from the memo
    # under test
    rows = Searcher(idx, **kw).search(q, 10, prune=False).collect()
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def _hot_top(s, q):
    p = s.plan(q, 10)
    assert p.tier == "hot", (q, p.declined)
    return p.rows


def test_warm_hot_queries_build_no_scorer_and_rescore_nothing(built, hot, monkeypatch):
    s = Searcher(built, dtype=np.float32)
    shapes = _shapes()
    first = {name: _hot_top(s, q) for name, q in shapes.items()}
    built_scorers, scored = [], []
    for name in ("scorer", "multi_scorer"):
        orig = getattr(s.sim, name)
        monkeypatch.setattr(s.sim, name, lambda *a, _o=orig, **kw: (
            built_scorers.append(a), _o(*a, **kw))[1])
    orig_score = BM25Scorer.score
    monkeypatch.setattr(BM25Scorer, "score", lambda self, f, n: (
        scored.append(len(f)), orig_score(self, f, n))[1])
    for name, q in shapes.items():
        del scored[:]
        assert _hot_top(s, q) == first[name], name
        # a phrase still scores its phrase freqs; every other shape reads
        # its kept score runs
        assert (len(scored) == 1) if name.startswith(("phrase", "sloppy")) else not scored, name
    assert built_scorers == []


@pytest.mark.parametrize("boost", [0.3, 1.0, 2.5])
@pytest.mark.parametrize("sim", [BM25, Classic, Boolean])
def test_hot_equals_exhaustive_bit_for_bit(built, hot, sim, boost):
    s = Searcher(built, dtype=np.float32, similarity=sim())
    for name, q in _shapes(boost).items():
        want = _exhaustive(built, q, dtype=np.float32, similarity=sim())
        assert len(want) == 10, name
        for _ in range(2):  # cold, then from the kept runs
            assert _f32(_hot_top(s, q)) == _f32(want), (name, sim, boost)


def test_hot_memo_key_covers_every_scorer_stat(built, hot):
    s = Searcher(built, dtype=np.float32, similarity=LMDirichlet())
    t = lambda w: TermQuery(term=w)
    st = s.term_stats(["xa", "xb"])
    assert st["xa"].doc_freq == st["xb"].doc_freq
    assert st["xa"].total_term_freq != st["xb"].total_term_freq
    for q in (t("xa"), t("xb"), bool_query(should=[t("xa"), t("xb"), t("red")]),
              bool_query(must=[t("xb"), t("red")])):
        want = _exhaustive(built, q, dtype=np.float32, similarity=LMDirichlet())
        assert _f32(_hot_top(s, q)) == _f32(want), q


def test_hot_same_term_under_two_boosts_blended_and_float64(built, hot):
    s = Searcher(built, dtype=np.float32)
    for q in (TermQuery(term="spark", boost=2.5), TermQuery(term="spark"),
              BlendedTermQuery(terms=("merge", "red"), boosts=(1.0, 2.0))):
        assert _f32(_hot_top(s, q)) == _f32(_exhaustive(built, q, dtype=np.float32)), q
    s64 = Searcher(built, dtype=np.float64)
    for name, q in _shapes().items():
        want = _exhaustive(built, q, dtype=np.float64)
        for _ in range(2):
            assert _f32(_hot_top(s64, q)) == _f32(want), name


@pytest.mark.parametrize("boost", [0.3, 2.5])
def test_float64_flat_sums_within_one_ulp_across_tiers(built, hot, boost):
    # the hot tier sums a doc's clause scores in clause order, a float64
    # Spark-tier sum in postings scan order, so the two may differ in the
    # last bit; float32 rounds both to one score. The hot tier declines the
    # bool shape, so the bool is checked against that clause-order sum
    t = lambda w, b=1.0: TermQuery(term=w, boost=b)
    clauses = [t("spark"), t("spark", boost), t("red")]
    mixed = bool_query(must=clauses[:1], should=clauses[1:])
    for dtype in (np.float32, np.float64):
        s = Searcher(built, dtype=dtype)
        assert s.plan(mixed, 10).declined[0] == ("hot", "shape")
        parts = [dict(s.top_docs(c, len(_texts()))) for c in clauses]
        by_clause = BruteForceIndex.topk(
            {d: dtype(sum(p[d] for p in parts if d in p)) for d in parts[0]}, 10
        )
        for q, want in ((mixed, by_clause), (bool_query(should=clauses), None)):
            got = _exhaustive(built, q, dtype=dtype)
            want = want or _hot_top(s, q)
            assert len(got) == 10 and [d for d, _ in got] == [d for d, _ in want], q
            g, w = np.array([x for _, x in got]), np.array([x for _, x in want])
            if dtype is np.float32:
                assert _f32(got) == _f32(want), q
            else:
                assert (np.abs(g - w) <= np.spacing(w)).all(), (q, g - w)


def test_hot_budget_counts_score_runs(built, hot, monkeypatch):
    s = Searcher(built, dtype=np.float32)
    df = {t: st.doc_freq for t, st in s.term_stats(["spark", "red", "blue"]).items()}
    s.top_docs(TermQuery(term="spark"), 10)
    assert s._hot_cached == 2 * df["spark"]  # postings + one score run
    s.top_docs(TermQuery(term="spark", boost=2.5), 10)
    assert s._hot_cached == 3 * df["spark"]  # a second scorer key, a second run
    s.top_docs(SynonymQuery(terms=("red", "blue")), 10)
    union = len(np.union1d(s._postings_cache["red"][0], s._postings_cache["blue"][0]))
    assert s._hot_cached == 3 * df["spark"] + df["red"] + df["blue"] + union
    # room for red alone with the synonym run it hosts and a term run:
    # spark goes with both its runs, then blue
    monkeypatch.setenv("LUCENE_SPARK_HOT_CACHE_POSTINGS", str(2 * df["red"] + union))
    s.top_docs(TermQuery(term="red"), 10)
    assert list(s._postings_cache) == ["red"]
    assert s._hot_cached == 2 * df["red"] + union
    assert s._hot_cached == sum(_hot_size(e, False) for e in s._postings_cache.values())


def test_hot_cache_evicts_least_recently_used(built, hot, monkeypatch):
    s = Searcher(built, dtype=np.float32)
    a, b, c = "spark", "merge", "red"
    df = {t: st.doc_freq for t, st in s.term_stats([a, b, c]).items()}
    assert df[c] <= df[b]
    cost = {}
    for t in (a, b, c):  # what one term query keeps: postings + score run
        before = s._hot_cached
        s.top_docs(TermQuery(term=t), 10)
        cost[t] = s._hot_cached - before
    monkeypatch.setenv("LUCENE_SPARK_HOT_CACHE_POSTINGS", str(cost[a] + cost[b]))
    s = Searcher(built, dtype=np.float32)
    for t in (a, b, a, c):
        q = TermQuery(term=t)
        assert _hot_top(s, q) == _hot_top(Searcher(built, dtype=np.float32), q)
    assert list(s._postings_cache) == [a, c]  # b was least recently used
    assert s._hot_cached == cost[a] + cost[c]


def test_score_runs_give_way_to_the_postings_a_query_needs(built, hot, monkeypatch):
    # "spark" under two boosts keeps its postings and two score runs (3a);
    # at a cap of a + b, or(spark, merge) must drop those runs to fetch
    # merge's postings, not turn the query away from the hot tier
    s = Searcher(built, dtype=np.float32)
    df = {t: st.doc_freq for t, st in s.term_stats(["spark", "merge"]).items()}
    for b in (1.0, 2.5):
        s.top_docs(TermQuery(term="spark", boost=b), 10)
    assert s._hot_cached == 3 * df["spark"]
    monkeypatch.setenv("LUCENE_SPARK_HOT_CACHE_POSTINGS", str(df["spark"] + df["merge"]))
    q = bool_query(should=[TermQuery(term="spark"), TermQuery(term="merge")])
    assert _f32(_hot_top(s, q)) == _f32(_exhaustive(built, q, dtype=np.float32))
    assert list(s._postings_cache) == ["spark", "merge"]
    assert s._hot_cached == df["spark"] + df["merge"]
    assert s._hot_cached == sum(_hot_size(e, False) for e in s._postings_cache.values())


def test_repeated_term_or_and_are_hot_shapes(built, hot, monkeypatch):
    # every occurrence of a repeated term scores (under its own boost), on
    # the hot tier, in _eval and in the brute-force oracle alike; WAND
    # declines the shape, its per-term bounds would collapse the repeat
    o = BruteForceIndex(_texts())
    t = lambda w, b=1.0: TermQuery(term=w, boost=b)
    cases = {
        "or": (False, [("spark", 0.3), ("spark", 1.0)]),
        "and": (True, [("spark", 0.3), ("spark", 1.0), ("merge", 1.0)]),
    }
    s = Searcher(built, dtype=np.float32)
    for name, (must, clauses) in cases.items():
        tqs = [t(w, b) for w, b in clauses]
        q = bool_query(must=tqs) if must else bool_query(should=tqs)
        parts = [o.score_term(w, b) for w, b in clauses]
        docs = set.intersection(*map(set, parts)) if must else set().union(*parts)
        want = BruteForceIndex.topk(
            {d: np.float32(sum(float(p[d]) for p in parts if d in p)) for d in docs}, 10
        )
        assert len(want) == 10, name
        assert _f32(_hot_top(s, q)) == _f32(want), name
        assert _f32(_exhaustive(built, q, dtype=np.float32)) == _f32(want), name
    monkeypatch.setenv("LUCENE_SPARK_HOT_CACHE_POSTINGS", "0")
    p = Searcher(built, dtype=np.float32).plan(q, 10)
    assert p.tier == "eval" and ("wand", "repeated term") in p.declined
    assert _f32((r["doc_id"], r["score"]) for r in p.frame.collect()) == _f32(want)


# ---- the dense-bucket combine (matchers.combine_runs)


def _merge_reference(runs, tie):
    """The merge path the bucket table replaces: merge_sorted_runs, bincount
    sums in run order, maximum.reduceat for the max."""
    u, inv, order, starts = matchers.merge_sorted_runs([d for d, _s in runs])
    cat = np.concatenate([s for _d, s in runs])
    tot = np.bincount(inv, weights=cat)
    if tie is not None:
        mx = np.maximum.reduceat(cat[order], starts)
        tot = mx + tie * (tot - mx)
    return u, tot


@settings(max_examples=400, deadline=None)
@given(
    st.lists(st.tuples(doc_ids, st.floats(0.1, 4.0)), min_size=1, max_size=4),
    st.data(),
    st.sampled_from([None, 0.0, 0.1, 1.0]),
    st.sampled_from(["dense", "gap", "high", "split"]),
)
def test_dense_combine_bit_identical_to_merge(runs, data, tie, ids):
    # a run repeats an earlier one (a repeated term) under its own boost;
    # "gap", "split" (some ids past 2^32) widen the span past _DENSE_SPAN
    # times the postings, "high" moves a dense range past 2^32
    if data.draw(st.booleans()):
        d, b = data.draw(st.sampled_from(runs))
        runs = runs + [(d, b * 1.7)]
    shift = {"dense": lambda d: d, "gap": lambda d: d * 1000,
             "high": lambda d: d + 2**32 + 5,
             "split": lambda d: np.where(d > 40, d + 2**32, d)}[ids]
    scored = []
    for d, b in runs:
        s = np.asarray(data.draw(st.lists(st.floats(0, 10), min_size=len(d),
                                          max_size=len(d))), dtype=np.float64)
        scored.append((shift(d).astype(np.int64), s * b))
    want_u, want = _merge_reference(scored, tie)
    got_u, got = matchers.combine_runs(scored, tie)
    np.testing.assert_array_equal(got_u, want_u)
    assert got.tobytes() == want.tobytes()
    if len(want_u) and want_u[-1] - want_u[0] < 10**6:
        # the bucket table itself, also where combine_runs would merge
        lo, hi = int(want_u[0]), int(want_u[-1])
        du, dt = matchers._dense_combine(scored, tie, lo, hi - lo + 1)
        np.testing.assert_array_equal(du, want_u)
        assert dt.tobytes() == want.tobytes()


# ---- id layouts past the dense range: gapped ids, ids past 2^31 and 2^32

_N = len(_texts())
_ID_MAPS = {
    "gap7": lambda i: i * 7,
    "near31": lambda i: i + 2**31 - 150,
    "split32": lambda i: i + (2**32 if i >= 150 else 0),
}


@pytest.fixture(scope="module", params=sorted(_ID_MAPS))
def remapped(request, spark):
    ids = [_ID_MAPS[request.param](i) for i in range(_N)]
    df = spark.createDataFrame(list(zip(ids, _texts())), "doc_id long, text string")
    idx = build_index(
        df, IndexConfig(seg_size=64, with_positions=True),
        content_col="text", doc_id_col="doc_id", auto_seg_size=False, eager=True,
    )
    yield request.param, ids, idx
    idx.unpersist()


def test_hot_combine_on_remapped_ids_equals_exhaustive(remapped, hot, monkeypatch):
    name, _ids, idx = remapped
    paths = []
    for fn in ("_dense_combine", "_merged_combine"):
        orig = getattr(matchers, fn)
        monkeypatch.setattr(matchers, fn, lambda *a, _o=orig, _f=fn: (
            paths.append(_f), _o(*a))[1])
    s = Searcher(idx, dtype=np.float32)
    t = lambda w, b=1.0: TermQuery(term=w, boost=b)
    for b in (1.0, 2.5):
        shapes = _shapes(b)
        # term boosts b, a repeated term, and outer boosts after the combine
        for q in (shapes["or"], shapes["dismax"], shapes["blended"],
                  bool_query(should=[t("red", 0.3), t("red"), t("blue")]),
                  DisjunctionMaxQuery(disjuncts=(t("merge"), t("red"), t("merge", b)),
                                      tie_breaker=0.3, boost=0.7),
                  BlendedTermQuery(terms=("spark", "blue"), boosts=(b, 1.0),
                                   rewrite="boolean", boost=2.5)):
            want = _exhaustive(idx, q, dtype=np.float32)
            assert len(want) == 10, (name, q)
            assert _f32(_hot_top(s, q)) == _f32(want), (name, q)
    # ids split past 2^32 span more than _DENSE_SPAN times the postings, so
    # do ids 7 apart unless the terms are frequent; ids straddling 2^31 are
    # dense
    assert set(paths) == {"near31": {"_dense_combine"}, "split32": {"_merged_combine"},
                          "gap7": {"_dense_combine", "_merged_combine"}}[name]


# ---- the hot exact phrase: rarest-first probe over doc-keyed positions

_PHRASES = [
    ("the", "spark"),
    ("spark", "the", "spark"),  # repeated terms
    ("the", "the"),
    ("red", "blue", "red"),  # the rarest slot leads: not the first one
    ("blue", "merge", "blue", "the"),
]


def _oracle_phrase(o, terms, ids, dead=()):
    got = {ids[d]: s for d, s in o.score_phrase(terms).items() if ids[d] not in dead}
    return BruteForceIndex.topk(got, 10)


def _phrase_agrees(s, idx, o, ids, dead=()):
    texts = _texts()
    for terms in _PHRASES:
        q = PhraseQuery(terms=terms)
        want = _oracle_phrase(o, terms, ids, dead)
        assert want, terms
        hot = _hot_top(s, q)
        assert _f32(hot) == _f32(want), terms
        assert _f32(_exhaustive(idx, q, dtype=np.float32)) == _f32(want), terms
    # the wrap guard: some hits start at position 0, where a slot > 0 shifted
    # back to the phrase start borrows from the doc half of the key
    first = [d for d, t in enumerate(texts) if t.split()[:2] == ["the", "spark"]]
    assert first
    assert {ids[d] for d in first} - set(dead) <= {
        d for d, _s in s.top_docs(PhraseQuery(terms=("the", "spark")), len(texts))
    }


def _cached_positions_agree(s, keyed):
    for t, e in s._positions_cache.items():
        docs, freqs, _n, keys, starts = e
        st_ = s.term_stats([t])[t]
        assert _hot_size(e, True) == len(keys) == st_.total_term_freq == freqs.sum()
        pos = keys & matchers._LOW_MASK
        assert (pos < 2**31).all()
        if keyed:
            assert (keys >> 32).tolist() == np.repeat(docs, freqs).tolist()
            assert (np.diff(keys) > 0).all()
        else:
            assert (keys == pos).all()
        np.testing.assert_array_equal(starts, np.cumsum(freqs) - freqs)
    assert s._hot_pos_cached == sum(len(e[3]) for e in s._positions_cache.values())


@pytest.mark.parametrize("kind", ["hard", "soft"])
def test_hot_exact_phrase_with_deletes(built, hot, kind):
    o = BruteForceIndex(_texts())
    ids = list(range(_N))
    base = Searcher(built, dtype=np.float32)
    dead = sorted({d for t in _PHRASES
                   for d, _s in base.top_docs(PhraseQuery(terms=t), 2)} | {0})
    idx = built.delete_docs(dead) if kind == "hard" else built.soft_delete_docs(dead)
    s = Searcher(idx, dtype=np.float32)
    assert s._deleted.tolist() == dead
    _phrase_agrees(s, idx, o, ids, dead)


def test_hot_exact_phrase_on_remapped_ids(remapped, hot, monkeypatch):
    name, ids, idx = remapped
    gathered = []
    orig = matchers.exact_phrase_freqs_global
    monkeypatch.setattr(matchers, "exact_phrase_freqs_global",
                        lambda *a: (gathered.append(1), orig(*a))[1])
    s = Searcher(idx, dtype=np.float32)
    _phrase_agrees(s, idx, BruteForceIndex(_texts()), ids)
    # ids below 2^31 keep doc-keyed positions and probe them directly; a
    # term with a doc id past 2^31 keeps plain positions and its phrases
    # gather candidate-keyed arrays
    high = name != "gap7"
    assert bool(gathered) == high
    _cached_positions_agree(s, keyed=not high)
