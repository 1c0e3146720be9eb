"""Spark-free checks of the hot tier's linear and k-sized helpers: top-k by
partition (Searcher._rank_rows) and the sort-free merges of sorted doc-id
runs (matchers.intersect_sorted / merge_sorted_runs) equal the full sorts
they replace."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from lucene_spark import matchers
from lucene_spark.search import Searcher

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
