"""Property tests: the vectorized / closed-form match kernels in
lucene_spark.matchers are equivalent to literal transcriptions of the
reference algorithms (tests/oracle.py) on random position lists."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lucene_spark import matchers
from oracle import (
    _near_spans_ordered_freq,
    _near_spans_unordered_freq,
    _sloppy_phrase_freq,
)

positions = st.lists(
    st.integers(min_value=0, max_value=60), min_size=1, max_size=12, unique=True
).map(sorted)


def _disjoint(a, b):
    """Positions of two distinct terms never collide (one token per slot)."""
    sb = [p for p in b if p not in set(a)]
    return sb or [max(a) + 1]


@settings(max_examples=300, deadline=None)
@given(positions, positions, st.integers(0, 8))
def test_sloppy2_batch_equals_pq_walk(a, b, slop):
    b = _disjoint(a, b)
    got = matchers.sloppy_phrase_freqs(
        {"x": [np.asarray(a, dtype=np.int64)], "y": [np.asarray(b, dtype=np.int64)]},
        ("x", "y"),
        slop,
        1,
    )[0]
    exp = _sloppy_phrase_freq(
        [list(a), [p - 1 for p in b]], slop
    )
    assert got == pytest.approx(exp, abs=1e-12)


@settings(max_examples=300, deadline=None)
@given(positions, positions, st.integers(0, 8))
def test_sloppy2_crossing_chain_equals_pq_walk(a, b, slop):
    """The alternating crossing chain (what the SQL oracle encodes) is
    equivalent to the PQ walk for 2 distinct terms, ties included."""
    b = _disjoint(a, b)
    adj_a, adj_b = list(a), [p - 1 for p in b]
    exp = _sloppy_phrase_freq([adj_a, adj_b], slop)
    # chain form: t0 = max(firsts) (tie -> side B); then alternate
    sides = {0: sorted(adj_a), 1: sorted(adj_b)}
    t, side = (
        (sides[1][0], 1) if sides[1][0] >= sides[0][0] else (sides[0][0], 0)
    )
    got = 0.0
    while True:
        opp = sides[1 - side]
        pred = max(p for p in opp if p <= t)
        gap = t - pred
        if gap <= slop:
            got += 1.0 / (1.0 + gap)
        nxt = [p for p in opp if p > t]
        if not nxt:
            break
        t, side = nxt[0], 1 - side
    assert got == pytest.approx(exp, abs=1e-12)


@settings(max_examples=300, deadline=None)
@given(positions, positions, positions, st.integers(0, 10))
def test_sloppy_walk_matches_literal(a, b, c, slop):
    b = _disjoint(a, b)
    c = _disjoint(a + b, c)
    adj = [
        np.asarray(a, dtype=np.int64),
        np.asarray(b, dtype=np.int64) - 1,
        np.asarray(c, dtype=np.int64) - 2,
    ]
    got = matchers._sloppy_walk(adj, slop)
    exp = _sloppy_phrase_freq([list(x) for x in adj], slop)
    assert got == pytest.approx(exp, abs=1e-12)


@settings(max_examples=300, deadline=None)
@given(positions, positions, positions, st.integers(0, 10))
def test_span_ordered_vectorized_equals_literal(a, b, c, slop):
    lists = [a, b, c]
    got = matchers.span_ordered_freqs(
        [[np.asarray(x, dtype=np.int64)] for x in lists], slop, 1
    )[0]
    exp = _near_spans_ordered_freq(lists, slop)
    assert got == pytest.approx(exp, abs=1e-12)


@settings(max_examples=300, deadline=None)
@given(positions, positions, st.integers(0, 10))
def test_span_unordered2_closed_form_equals_walk(a, b, slop):
    b = _disjoint(a, b)
    got = matchers._span_unordered2_freqs(
        [np.asarray(a, dtype=np.int64)], [np.asarray(b, dtype=np.int64)], slop, 1
    )[0]
    exp = _near_spans_unordered_freq([a, b], slop)
    assert got == pytest.approx(exp, abs=1e-12)


@settings(max_examples=200, deadline=None)
@given(positions, positions, positions, st.integers(0, 10))
def test_span_unordered_walk_matches_literal(a, b, c, slop):
    b = _disjoint(a, b)
    c = _disjoint(a + b, c)
    lists = [np.asarray(x, dtype=np.int64) for x in (a, b, c)]
    got = matchers._span_unordered_walk(lists, slop)
    exp = _near_spans_unordered_freq([list(x) for x in lists], slop)
    assert got == pytest.approx(exp, abs=1e-12)


@settings(max_examples=200, deadline=None)
@given(positions, positions, positions)
def test_exact_phrase_vectorized_equals_set_intersection(a, b, c):
    terms = ("t0", "t1", "t0")  # includes a repeated term
    pos_by_term = {
        "t0": [np.asarray(a, dtype=np.int64)],
        "t1": [np.asarray(b, dtype=np.int64)],
    }
    got = matchers.exact_phrase_freqs(pos_by_term, terms, 1)[0]
    cands = set(a) & {p - 1 for p in b} & {p - 2 for p in a}
    assert got == len(cands)


def _brute_minimal_intervals(lists, ordered):
    """Enumerate every candidate interval, keep the non-containing minimal
    set — the definition the lazy iterators implement."""
    import itertools

    cands = set()
    for tup in itertools.product(*lists):
        if ordered:
            if not all(tup[i] < tup[i + 1] for i in range(len(tup) - 1)):
                continue
        cands.add((min(tup), max(tup)))
    return {
        (s, e)
        for (s, e) in cands
        if not any(
            (s2 >= s and e2 <= e and (s2, e2) != (s, e)) for (s2, e2) in cands
        )
    }


@settings(max_examples=200, deadline=None)
@given(positions, positions, positions, st.booleans(), st.integers(-1, 6))
def test_interval_freqs_match_brute_minimal_windows(a, b, c, ordered, max_gaps):
    b = _disjoint(a, b)
    c = _disjoint(a + b, c)
    lists = [a, b, c]
    n = 3
    got = matchers.interval_freqs(
        [[np.asarray(x, dtype=np.int64)] for x in lists], ordered, max_gaps, 1
    )[0]
    minimal = _brute_minimal_intervals(lists, ordered)
    exp = 0.0
    for s, e in minimal:
        length = e - s + 1
        if max_gaps >= 0 and (length - n) > max_gaps:
            continue
        exp += 1.0 / max(length - n + 1, 1)
    assert got == pytest.approx(exp, abs=1e-12)


def test_exact_phrase_multi_doc_batch():
    # cross-doc isolation: doc 0 "x y", doc 1 "y x", doc 2 "x ... y"
    pos_by_term = {
        "x": [np.array([0]), np.array([1]), np.array([0])],
        "y": [np.array([1]), np.array([0]), np.array([5])],
    }
    got = matchers.exact_phrase_freqs(pos_by_term, ("x", "y"), 3)
    assert got.tolist() == [1, 0, 0]


def test_sloppy_repeated_terms_hand_traces():
    # "x x"~1 on positions [0, 2]: init PP0@0, PP1@(2-1)=1; end=1; pop PP0
    # (ml=1); advance PP0 -> collision (idx 1,1) -> lesser = higher offset
    # PP1 -> exhausted -> final emit ml=1 <= 1 -> 1/(1+1)
    got = matchers.sloppy_phrase_freqs(
        {"x": [np.array([0, 2])]}, ("x", "x"), 1, 1
    )
    assert got[0] == pytest.approx(0.5)
    # adjacent repeat "x x" on [0, 1]: exact alignment, weight 1.0
    got = matchers.sloppy_phrase_freqs(
        {"x": [np.array([0, 1])]}, ("x", "x"), 1, 1
    )
    assert got[0] == pytest.approx(1.0)
    # occurrences < group size: no match possible
    got = matchers.sloppy_phrase_freqs(
        {"x": [np.array([4])], "y": [np.array([5])]}, ("x", "y", "x"), 3, 1
    )
    assert got[0] == 0.0


def test_span_unordered_dup_overlap_quirk():
    # a single occurrence matches "x x"~0: both clauses sit on the same
    # token (NearSpansUnordered has no overlap exclusion), ml=1, w=1/2
    got = matchers.span_unordered_freqs(
        [[np.array([3])], [np.array([3])]], 0, 1, distinct=False
    )
    assert got[0] == pytest.approx(0.5)
    # two occurrences at gap d: 2 self-states + 1 pair state (d<=slop+1)
    got = matchers.span_unordered_freqs(
        [[np.array([0, 4])], [np.array([0, 4])]], 3, 1, distinct=False
    )
    assert got[0] == pytest.approx(0.5 + 0.5 + 1.0 / 6.0)


def test_unordered_intervals_dup_windows():
    # single repeated term -> RepeatingIntervalsSource raw windows
    pbt = {"x": [np.array([0, 2, 7])]}
    got = matchers.unordered_intervals_dups_freqs(pbt, {"x": 2}, -1, 1)
    # windows (0,2) len 3 w=1/3; (2,7) len 6 w=1/6
    assert got[0] == pytest.approx(1.0 / 3.0 + 1.0 / 6.0)
    # maxgaps: gaps = len-2; window (2,7) has gaps 4 > 2 -> dropped
    got = matchers.unordered_intervals_dups_freqs(pbt, {"x": 2}, 2, 1)
    assert got[0] == pytest.approx(1.0 / 3.0)
    # fewer occurrences than count -> no match
    got = matchers.unordered_intervals_dups_freqs(
        {"x": [np.array([5])]}, {"x": 2}, -1, 1
    )
    assert got[0] == 0.0


@given(
    st.lists(st.integers(0, 30), min_size=1, max_size=8, unique=True),
    st.lists(st.integers(0, 30), min_size=1, max_size=8, unique=True),
    st.lists(st.integers(0, 30), min_size=1, max_size=8, unique=True),
)
@settings(max_examples=60, deadline=None)
def test_unordered_intervals_walk_equals_staircase_on_distinct_points(a, b, c):
    # the literal UnorderedIntervalIterator transcription must agree with
    # the vectorized minimal-window staircase wherever both apply
    lists = [np.array(sorted(set(a))), np.array(sorted(set(b))), np.array(sorted(set(c)))]
    pbt = {"a": [lists[0]], "b": [lists[1]], "c": [lists[2]]}
    w1 = matchers.unordered_intervals_dups_freqs(
        pbt, {"a": 1, "b": 1, "c": 1}, -1, 1
    )
    w2 = matchers.interval_freqs([[x] for x in lists], False, -1, 1)
    assert w1[0] == pytest.approx(w2[0], abs=1e-12)


def _machine_freqs_duckdb_sql(full, docs):
    """Carve the machine CTEs out of a full __spark_entry__ oracle and run
    them against token-list docs; returns {doc_id: freq}."""
    import duckdb
    # carve the machine CTEs out of the full oracle (between the prelude's
    # dfreq CTE and the ', pf AS' scoring tail), keep `matches` as the probe
    start = full.index(", pl AS (")
    end = full.index("\n, pf AS (")
    ctes = full[start:end]
    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, toks VARCHAR[])")
    for i, d in enumerate(docs):
        con.execute("INSERT INTO docs VALUES (?, ?)", [i, d])
    sql = (
        "WITH RECURSIVE tokp AS (SELECT doc_id, unnest(toks) AS term, "
        "generate_subscripts(toks,1)-1 AS pos FROM docs)"
        + ctes
        + "\nSELECT doc_id, freq FROM machine WHERE ph = 'fin' AND freq > 0"
    )
    return dict(con.execute(sql).fetchall())


@pytest.mark.parametrize(
    "terms,slop",
    [
        (("a", "b", "a"), 2),
        (("a", "a"), 1),
        (("a", "a", "b"), 3),
        (("a", "b", "a", "b"), 4),
        (("a", "a", "a"), 2),
    ],
)
def test_sloppy_rpts_python_equals_sql_machine(terms, slop):
    # the engine walk (matchers._sloppy_walk_rpts) and the oracle's
    # recursive-CTE machine are INDEPENDENT encodings of
    # SloppyPhraseMatcher's hasRpts algorithm; they must agree everywhere
    import sys, os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry

    _machine = lambda docs: _machine_freqs_duckdb_sql(
        entry._phrase_slop_rpts_sql(list(terms), slop), docs
    )
    import random

    rng = random.Random(20260817)
    docs = [
        [rng.choice("abc") for _ in range(rng.randint(1, 14))]
        for _ in range(200)
    ]
    uniq = list(dict.fromkeys(terms))
    pos_by_term = {
        t: [
            np.array([p for p, w in enumerate(d) if w == t], dtype=np.int64)
            if t in d
            else None
            for d in docs
        ]
        for t in uniq
    }
    want = matchers.sloppy_phrase_freqs(pos_by_term, terms, slop, len(docs))
    got = _machine(docs)
    for i in range(len(docs)):
        assert got.get(i, 0.0) == pytest.approx(want[i], abs=1e-9), (
            i,
            docs[i],
        )


@pytest.mark.parametrize(
    "slots,slop",
    [
        # multi-term repeats (hasMultiTermRpts): a slot sharing a term
        # with another slot, at least one repeating slot multi-term
        ([["a", "b"], ["c"], ["a"]], 3),
        ([["a", "b"], ["a"]], 2),
        ([["a", "b"], ["b", "c"]], 2),  # hidden-collision bipartite group
        ([["a"], ["b"], ["a", "c"]], 4),
        # no repeats, multi-term slots (plain union walk)
        ([["a", "b"], ["c"]], 3),
        # 'c' repeats through a multi-term slot: group spans slots 0 and 2
        ([["a", "c"], ["b"], ["c"]], 2),
    ],
)
def test_sloppy_multi_phrase_python_equals_sql_machine(slots, slop):
    # matchers.sloppy_multi_phrase_freqs (UnionPostingsEnum +
    # hasMultiTermRpts collide-chase) vs the generalized recursive-CTE
    # machine — independent encodings, must agree on random corpora
    import sys, os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry
    import random

    rng = random.Random(20260818)
    docs = [
        [rng.choice("abcd") for _ in range(rng.randint(1, 14))]
        for _ in range(300)
    ]
    uniq = list(dict.fromkeys(t for s in slots for t in s))
    pos_by_term = {
        t: [
            np.array([p for p, w in enumerate(d) if w == t], dtype=np.int64)
            if t in d
            else None
            for d in docs
        ]
        for t in uniq
    }
    want = matchers.sloppy_multi_phrase_freqs(
        pos_by_term, [tuple(s) for s in slots], slop, len(docs)
    )
    got = _machine_freqs_duckdb_sql(
        entry._multi_phrase_slop_sql([list(s) for s in slots], slop), docs
    )
    for i in range(len(docs)):
        assert got.get(i, 0.0) == pytest.approx(want[i], abs=1e-9), (
            i,
            docs[i],
        )


def test_multi_phrase_sloppy_singleton_slots_equals_plain_phrase():
    # singleton slots must reduce exactly to the plain sloppy-phrase path
    import random

    rng = random.Random(7)
    docs = [
        [rng.choice("abc") for _ in range(rng.randint(1, 12))]
        for _ in range(200)
    ]
    for terms, slop in [(("a", "b", "a"), 2), (("a", "b"), 3), (("a", "a"), 1)]:
        pos_by_term = {
            t: [
                np.array([p for p, w in enumerate(d) if w == t], dtype=np.int64)
                if t in d
                else None
                for d in docs
            ]
            for t in dict.fromkeys(terms)
        }
        want = matchers.sloppy_phrase_freqs(pos_by_term, terms, slop, len(docs))
        got = matchers.sloppy_multi_phrase_freqs(
            pos_by_term, [(t,) for t in terms], slop, len(docs)
        )
        np.testing.assert_allclose(got, want, atol=1e-12)


def test_sloppy_rpts_batch_equals_literal_walk():
    """The doc-lockstep SIMD walk must reproduce the literal per-doc
    transcription of SloppyPhraseMatcher's hasRpts path exactly, over
    random corpora including empty docs, all-same-term docs and every
    repeat shape up to 5 PPs."""
    import random

    rng = random.Random(20260818)
    for trial in range(120):
        n_docs = rng.randint(1, 40)
        docs = [
            [rng.choice("abcd") for _ in range(rng.randint(1, 18))]
            for _ in range(n_docs)
        ]
        tlen = rng.randint(2, 5)
        terms = tuple(rng.choice("abc") for _ in range(tlen))
        if len(set(terms)) == len(terms):
            terms = terms[:-1] + (terms[0],)  # force a repeat
        slop = rng.randint(0, 5)
        pbt = {
            t: [
                np.array([p for p, w in enumerate(d) if w == t], dtype=np.int64)
                if t in d
                else None
                for d in docs
            ]
            for t in dict.fromkeys(terms)
        }
        want = matchers._sloppy_phrase_freqs_rpts_literal(pbt, terms, slop, n_docs)
        got = matchers.sloppy_phrase_freqs_rpts(pbt, terms, slop, n_docs)
        np.testing.assert_allclose(got, want, atol=1e-12,
                                   err_msg=f"{terms} slop={slop} {docs}")


def test_sloppy_multi_phrase_batch_equals_literal_walk():
    """Batch union-stream walk (incl. the vectorized hasMultiTermRpts
    collide-chase init) vs the literal per-doc driver."""
    import random

    rng = random.Random(20260819)
    for trial in range(120):
        n_docs = rng.randint(1, 40)
        docs = [
            [rng.choice("abcd") for _ in range(rng.randint(1, 18))]
            for _ in range(n_docs)
        ]
        ns = rng.randint(2, 4)
        slots = [tuple(rng.sample("abcd", rng.randint(1, 2))) for _ in range(ns)]
        slop = rng.randint(0, 5)
        pbt = {
            t: [
                np.array([p for p, w in enumerate(d) if w == t], dtype=np.int64)
                if t in d
                else None
                for d in docs
            ]
            for t in dict.fromkeys(t for s in slots for t in s)
        }
        want = matchers._sloppy_multi_phrase_freqs_literal(pbt, slots, slop, n_docs)
        got = matchers.sloppy_multi_phrase_freqs(pbt, slots, slop, n_docs)
        np.testing.assert_allclose(got, want, atol=1e-12,
                                   err_msg=f"{slots} slop={slop} {docs}")


def test_unordered_dups_batch_equals_literal_walk():
    """Batch lockstep queue walk vs the literal per-doc
    UnorderedIntervalIterator driver, across maxgaps/maxwidth filters and
    repeat counts 1..3."""
    import random

    rng = random.Random(20260820)
    for trial in range(150):
        n_docs = rng.randint(1, 30)
        docs = [
            [rng.choice("abcd") for _ in range(rng.randint(1, 20))]
            for _ in range(n_docs)
        ]
        nt = rng.randint(1, 3)
        ts = rng.sample("abc", nt)
        counts = {t: rng.randint(1, 3) for t in ts}
        max_gaps = rng.choice([-1, 0, 1, 2, 4])
        max_width = rng.choice([-1, -1, 3, 5])
        pbt = {
            t: [
                np.array([p for p, w in enumerate(d) if w == t], dtype=np.int64)
                if t in d
                else None
                for d in docs
            ]
            for t in ts
        }
        want = matchers._unordered_intervals_dups_freqs_literal(
            pbt, counts, max_gaps, n_docs, max_width=max_width
        )
        got = matchers.unordered_intervals_dups_freqs(
            pbt, counts, max_gaps, n_docs, max_width=max_width
        )
        np.testing.assert_allclose(got, want, atol=1e-12,
                                   err_msg=f"{counts} {max_gaps} {max_width}")


def test_span_batch_cross_doc_isolation():
    # ordered chain must not leak into the next doc's positions
    by_clause = [
        [np.array([0]), np.array([0])],
        [np.array([1]), None],
    ]
    got = matchers.span_ordered_freqs(by_clause, 4, 2)
    assert got[0] == pytest.approx(1.0 / 3.0)  # matchLength = 2
    assert got[1] == 0.0


def test_interval_filter_not_containing_quirk():
    # reference quirk: an overlapping-but-not-contained b still suppresses a
    # (NotContainingIntervalsSource's resting-b check is b.start > a.end,
    # not "no contained b")
    a = [[np.array([2])], [np.array([5])]]  # source ordered (2,5)
    b_overlap = [[np.array([5, 9])]]  # b=(5,5) overlaps a's end, not contained
    got = matchers.interval_filter_freqs(
        "not_containing", a, True, -1, b_overlap, True, -1, 1
    )
    assert got[0] == 0.0
    b_past = [[np.array([9])]]  # b entirely past a -> emit
    got = matchers.interval_filter_freqs(
        "not_containing", a, True, -1, b_past, True, -1, 1
    )
    assert got[0] == pytest.approx(1.0 / max(4 - 2 + 1, 1))
    b_inside = [[np.array([3])]]  # contained -> suppressed
    got = matchers.interval_filter_freqs(
        "not_containing", a, True, -1, b_inside, True, -1, 1
    )
    assert got[0] == 0.0


def test_interval_filter_absence_semantics():
    a = [[np.array([1])], [np.array([3])]]
    none = [[None]]
    # difference kinds emit everything when the reference is absent
    for kind in ("not_containing", "not_contained_by", "non_overlapping"):
        got = matchers.interval_filter_freqs(kind, a, True, -1, none, True, -1, 1)
        assert got[0] > 0, kind
    # conjunction kinds need the reference present
    for kind in ("containing", "contained_by", "overlapping", "before", "after"):
        got = matchers.interval_filter_freqs(kind, a, True, -1, none, True, -1, 1)
        assert got[0] == 0.0, kind


def test_interval_filter_before_after():
    src = [[np.array([2, 8])]]
    ref = [[np.array([5])]]
    got = matchers.interval_filter_freqs("before", src, True, -1, ref, True, -1, 1)
    assert got[0] == pytest.approx(1.0)  # only (2,2) is before 5
    got = matchers.interval_filter_freqs("after", src, True, -1, ref, True, -1, 1)
    assert got[0] == pytest.approx(1.0)  # only (8,8) is after 5


def test_span_contain_filter_hand_cases():
    # big spans (0,5),(7,9); little points at 3 (inside first), 8 (inside second)
    bs, be = np.array([0, 7]), np.array([5, 9])
    ls, le = np.array([3, 8]), np.array([4, 9])
    es, ee = matchers.span_contain_filter("containing", bs, be, ls, le)
    assert list(es) == [0, 7] and list(ee) == [5, 9]
    es, ee = matchers.span_contain_filter("within", bs, be, ls, le)
    assert list(es) == [3, 8]
    # little exhaustion mid-stream ends the doc (stream break, not a skip)
    bs, be = np.array([0, 6]), np.array([5, 9])
    ls, le = np.array([1]), np.array([2])
    es, _ = matchers.span_contain_filter("containing", bs, be, ls, le)
    assert list(es) == [0]  # second big never checked: little exhausted


def test_ordered_chain_and_unordered_state_spans():
    a, b = np.array([0, 6]), np.array([2, 8])
    s, e = matchers.ordered_chain_spans([a, b], 4)
    # chains (0,2+1) width 1<=4; (6,8+1) width 1
    assert list(s) == [0, 6] and list(e) == [3, 9]
    s, e = matchers.unordered_state_spans([a, b], 1)
    # states: (0,3) ml3-2=1 ok; (2,7)x... walk: heads (0,2) maxend 3;
    # advance 0->6: (2,7) ml5-2=3 >1; advance 2->8: (6,9) ml3-2=1 ok
    assert list(zip(s, e)) == [(0, 3), (6, 9)]


@settings(max_examples=200, deadline=None)
@given(positions, positions, positions, st.integers(0, 10))
def test_sloppy_batch_equals_walk_3slots(a, b, c, slop):
    b = _disjoint(a, b)
    c = _disjoint(a + b, c)
    per = {"x": [np.asarray(a, np.int64)], "y": [np.asarray(b, np.int64)],
           "z": [np.asarray(c, np.int64)]}
    got = matchers.sloppy_phrase_freqs(per, ("x", "y", "z"), slop, 1)[0]
    adj = [np.asarray(a, np.int64), np.asarray(b, np.int64) - 1,
           np.asarray(c, np.int64) - 2]
    exp = matchers._sloppy_walk(adj, slop)
    assert got == pytest.approx(exp, abs=1e-12)


@settings(max_examples=200, deadline=None)
@given(positions, positions, st.integers(0, 8))
def test_sloppy_batch_tie_fallback_agrees(a, b, slop):
    # deliberately colliding adjusted positions (b NOT disjoint from a+1):
    # the dispatch must still equal the literal walk via the tie fallback
    per = {"x": [np.asarray(a, np.int64)], "y": [np.asarray(b, np.int64)]}
    got = matchers.sloppy_phrase_freqs(per, ("x", "y"), slop, 1)[0]
    exp = matchers._sloppy_walk(
        [np.asarray(a, np.int64), np.asarray(b, np.int64) - 1], slop
    )
    assert got == pytest.approx(exp, abs=1e-12)


@settings(max_examples=200, deadline=None)
@given(positions, positions, positions, st.integers(0, 10))
def test_span_unordered_batch_equals_walk(a, b, c, slop):
    b = _disjoint(a, b)
    c = _disjoint(a + b, c)
    lists = [np.asarray(x, np.int64) for x in (a, b, c)]
    got = matchers.span_unordered_freqs_batch(
        [x.copy() for x in lists], slop, 1
    )[0]
    exp = matchers._span_unordered_walk(lists, slop)
    assert got == pytest.approx(exp, abs=1e-12)


@settings(max_examples=150, deadline=None)
@given(positions, positions, st.integers(0, 8))
def test_span_unordered_batch_duplicate_clause(a, b, slop):
    b = _disjoint(a, b)
    arr_a, arr_b = np.asarray(a, np.int64), np.asarray(b, np.int64)
    got = matchers.span_unordered_freqs(
        [[arr_a], [arr_b], [arr_a]], slop, 1, distinct=False
    )[0]
    exp = matchers._span_unordered_walk([arr_a, arr_b, arr_a.copy()], slop)
    assert got == pytest.approx(exp, abs=1e-12)


# ---------------------------------------------------------------------------
# Intervals.extend / Intervals.atLeast kernels
# ---------------------------------------------------------------------------


def _brute_atleast_minimal(lists, m):
    """Every window [s, e] over occurring positions that covers >= m of the
    slots, minimized to the non-containing set — the definition
    MinimumShouldMatchIntervalsSource's PQ walk implements."""
    union = sorted({p for l in lists for p in l})
    cands = set()
    for s in union:
        for e in union:
            if e < s:
                continue
            cov = sum(1 for l in lists if any(s <= p <= e for p in l))
            if cov >= m:
                cands.add((s, e))
    return {
        (s, e)
        for (s, e) in cands
        if not any(
            (s2 >= s and e2 <= e and (s2, e2) != (s, e)) for (s2, e2) in cands
        )
    }


@settings(max_examples=200, deadline=None)
@given(positions, positions, positions, positions, st.integers(1, 4), st.integers(-1, 6))
def test_atleast_freqs_match_brute_minimal_windows(a, b, c, d, m, max_gaps):
    lists = [a, b, c, d]
    got = matchers.atleast_interval_freqs(
        [[np.asarray(x, dtype=np.int64)] for x in lists], m, max_gaps, 1
    )[0]
    exp = 0.0
    for s, e in _brute_atleast_minimal(lists, m):
        length = e - s + 1
        if max_gaps >= 0 and (length - m) > max_gaps:
            continue
        exp += 1.0 / max(length - m + 1, 1)
    assert got == pytest.approx(exp, abs=1e-12)


@settings(max_examples=150, deadline=None)
@given(positions, positions, positions)
def test_atleast_m_equals_n_is_unordered(a, b, c):
    b = _disjoint(a, b)
    c = _disjoint(a + b, c)
    lists = [[np.asarray(x, dtype=np.int64)] for x in (a, b, c)]
    got = matchers.atleast_interval_freqs(lists, 3, -1, 1)[0]
    ref = matchers.interval_freqs(lists, False, -1, 1)[0]
    assert got == pytest.approx(ref, abs=1e-12)


def test_atleast_multi_doc_batch():
    # doc 0 has slots {x@0, y@5}; doc 1 has {x@3} only; doc 2 has {x@1, y@1}
    lists = [
        [np.array([0]), np.array([3]), np.array([1])],
        [np.array([5]), None, np.array([1])],
    ]
    out = matchers.atleast_interval_freqs(lists, 2, -1, 3)
    assert out[0] == pytest.approx(1.0 / (6 - 2 + 1))
    assert out[1] == 0.0  # one slot can't reach m=2
    assert out[2] == pytest.approx(1.0)  # width-1 window covering both


@settings(max_examples=200, deadline=None)
@given(positions, positions, st.booleans(), st.integers(-1, 5),
       st.integers(0, 3), st.integers(0, 3))
def test_extended_freqs_match_brute(a, b, ordered, max_gaps, before, after):
    b = _disjoint(a, b)
    lists = [a, b]
    n = 2
    got = matchers.extended_interval_freqs(
        [[np.asarray(x, dtype=np.int64)] for x in lists],
        ordered, max_gaps, 1, before, after,
    )[0]
    exp = 0.0
    for s, e in _brute_minimal_intervals(lists, ordered):
        if max_gaps >= 0 and ((e - s + 1) - n) > max_gaps:
            continue
        s2, e2 = max(s - before, 0), e + after
        exp += 1.0 / max((e2 - s2 + 1) - (n + before + after) + 1, 1)
    assert got == pytest.approx(exp, abs=1e-12)


def test_extended_clamps_per_doc_not_globally():
    # doc 1's interval starts at position 0: the 'before' extension clamps
    # at THAT doc's base, never borrowing width from doc 0
    lists = [
        [np.array([10]), np.array([0])],
        [np.array([11]), np.array([1])],
    ]
    out = matchers.extended_interval_freqs(lists, True, -1, 2, 3, 0)
    # doc 0: s=10->7, e=11, width 5, minExt 2+3 -> 1/max(5-5+1,1)=1.0
    assert out[0] == pytest.approx(1.0)
    # doc 1: s=0 stays 0 (clamped), e=1, width 2, minExt 5 -> 1/max(2-5+1,1)=1.0
    assert out[1] == pytest.approx(1.0)


# ---- Intervals.maxwidth / within / notWithin / unorderedNoOverlaps ----


@settings(max_examples=200, deadline=None)
@given(positions, positions, positions, st.booleans(), st.integers(1, 8))
def test_interval_maxwidth_matches_brute(a, b, c, ordered, max_width):
    """Intervals.maxwidth (FilteredIntervalsSource.MaxWidth accept():
    (end - start) + 1 <= maxWidth) filters the minimal stream."""
    b = _disjoint(a, b)
    c = _disjoint(a + b, c)
    lists = [a, b, c]
    got = matchers.interval_freqs(
        [[np.asarray(x, dtype=np.int64)] for x in lists],
        ordered, -1, 1, max_width=max_width,
    )[0]
    exp = 0.0
    for s, e in _brute_minimal_intervals(lists, ordered):
        length = e - s + 1
        if length <= max_width:
            exp += 1.0 / max(length - 3 + 1, 1)
    assert got == pytest.approx(exp, abs=1e-12)


def _brute_filter_freq(kind, a_lists, b_lists, positions=0):
    """within/not_within per the reference's own compositions
    (Intervals.java:333-351): containedBy / nonOverlapping against the
    reference stream extended by `positions` on both sides (start clipped
    at 0)."""
    iva = sorted(_brute_minimal_intervals(a_lists, True))
    ivb = [
        (max(s - positions, 0), e + positions)
        for s, e in sorted(_brute_minimal_intervals(b_lists, True))
    ]
    freq = 0.0
    for s, e in iva:
        hit = any(bs <= s and be >= e for bs, be in ivb)
        overlap = any(be >= s and bs <= e for bs, be in ivb)
        emit = hit if kind == "within" else not overlap
        if emit:
            freq += 1.0 / max((e - s + 1) - len(a_lists) + 1, 1)
    return freq


@settings(max_examples=200, deadline=None)
@given(positions, positions, positions, st.integers(0, 6),
       st.sampled_from(["within", "not_within"]))
def test_interval_filter_within_matches_brute(a, b, r, positions_, kind):
    b = _disjoint(a, b)
    r = _disjoint(a + b, r)
    arr = lambda x: [np.asarray(x, dtype=np.int64)]
    got = matchers.interval_filter_freqs(
        kind, [arr(a), arr(b)], True, -1, [arr(r)], True, -1, 1,
        b_ext=positions_,
    )[0]
    exp = _brute_filter_freq(kind, [a, b], [r], positions_)
    assert got == pytest.approx(exp, abs=1e-12)


def _brute_no_overlaps(a, b):
    """or(ordered(a,b), ordered(b,a)) minimal union: all pa != pb pairs,
    minus intervals strictly containing another."""
    cands = {(min(pa, pb), max(pa, pb)) for pa in a for pb in b if pa != pb}
    minimal = {
        (s, e)
        for (s, e) in cands
        if not any(
            s2 >= s and e2 <= e and (s2, e2) != (s, e) for (s2, e2) in cands
        )
    }
    return sum(1.0 / max((e - s + 1) - 2 + 1, 1) for s, e in minimal)


@settings(max_examples=300, deadline=None)
@given(positions, positions)
def test_no_overlaps_matches_brute(a, b):
    got = matchers.no_overlaps_interval_freqs(
        [np.asarray(a, dtype=np.int64)], [np.asarray(b, dtype=np.int64)], 1
    )[0]
    assert got == pytest.approx(_brute_no_overlaps(a, b), abs=1e-12)


def test_no_overlaps_multi_doc_and_empty():
    a = [np.array([1, 5]), None, np.array([0])]
    b = [np.array([3]), np.array([2]), None]
    got = matchers.no_overlaps_interval_freqs(a, b, 3)
    # doc 0: pairs (1,3),(3,5) both minimal: 2 * 1/2; docs 1,2: one side absent
    assert got[0] == pytest.approx(1.0)
    assert got[1] == 0.0 and got[2] == 0.0


def test_within_extension_clips_at_doc_start():
    # ref at pos 1 extended by 5 must clip to 0, not leak into doc-negative
    # coordinates; source (0,0) is then contained
    a = [np.array([0])]
    r = [np.array([1])]
    got = matchers.interval_filter_freqs(
        "within", [a], True, -1, [r], True, -1, 1, b_ext=5
    )[0]
    assert got == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# Global sloppy kernels, the match-window prefilter and the vectorized tie
# rotation, on tie-heavy multi-doc batches
# ---------------------------------------------------------------------------

_term_positions = st.one_of(
    st.none(),
    st.lists(st.integers(0, 12), max_size=6, unique=True).map(sorted),
)


@st.composite
def _sloppy_batch(draw, repeats: bool):
    """(terms, pos_by_term, n_docs): 2-4 slots; with ``repeats`` some term
    fills 2-3 of them. Positions come from a narrow range, so distinct terms
    share positions and adjusted positions tie often. Docs may lack a term,
    hold empty arrays, or be empty altogether."""
    if repeats:
        terms = draw(
            st.lists(st.sampled_from("abc"), min_size=2, max_size=4).filter(
                lambda ts: 2 <= max(ts.count(t) for t in ts) <= 3
            )
        )
    else:
        terms = draw(
            st.lists(st.sampled_from("abcd"), min_size=2, max_size=4, unique=True)
        )
    uniq = list(dict.fromkeys(terms))
    docs = draw(
        st.lists(
            st.lists(_term_positions, min_size=len(uniq), max_size=len(uniq)),
            min_size=1,
            max_size=5,
        )
    )
    pbt = {
        t: [None if d[j] is None else np.asarray(d[j], dtype=np.int64) for d in docs]
        for j, t in enumerate(uniq)
    }
    return tuple(terms), pbt, len(docs)


def _walk_freqs(pbt, terms, slop, n_docs):
    """Per-doc literal no-repeats walk (_sloppy_walk) over adjusted lists."""
    out = np.zeros(n_docs, dtype=np.float64)
    for d in range(n_docs):
        arrs = [pbt[t][d] for t in terms]
        if all(a is not None and len(a) for a in arrs):
            out[d] = matchers._sloppy_walk(
                [a - off for off, a in enumerate(arrs)], slop
            )
    return out


@settings(max_examples=400, deadline=None)
@given(_sloppy_batch(repeats=False), st.integers(0, 6))
def test_sloppy_global_bit_identical_to_walk_tie_heavy(batch, slop):
    terms, pbt, n_docs = batch
    g = matchers._globals(pbt, terms)
    want = _walk_freqs(pbt, terms, slop, n_docs)
    got = matchers.sloppy_phrase_freqs_global(g, terms, slop, n_docs)
    np.testing.assert_array_equal(got, want)
    np.testing.assert_array_equal(
        matchers.sloppy_phrase_freqs(pbt, terms, slop, n_docs), want
    )
    keep = matchers._sloppy_candidates(g, terms, slop, n_docs)
    assert keep[want > 0].all()


@settings(max_examples=400, deadline=None)
@given(_sloppy_batch(repeats=True), st.integers(0, 6))
def test_sloppy_rpts_global_bit_identical_to_literal_tie_heavy(batch, slop):
    terms, pbt, n_docs = batch
    g = matchers._globals(pbt, terms)
    want = matchers._sloppy_phrase_freqs_rpts_literal(pbt, terms, slop, n_docs)
    got = matchers.sloppy_phrase_freqs_rpts_global(g, terms, slop, n_docs)
    np.testing.assert_array_equal(got, want)
    np.testing.assert_array_equal(
        matchers.sloppy_phrase_freqs_global(g, terms, slop, n_docs), want
    )
    np.testing.assert_array_equal(
        matchers.sloppy_phrase_freqs_rpts(pbt, terms, slop, n_docs), want
    )
    keep = matchers._sloppy_candidates(g, terms, slop, n_docs)
    assert keep[want > 0].all()


def test_sloppy_prefilter_drops_docs_that_cannot_match():
    # "x y"~1: doc 0 has the pair 2 apart (W = 2), doc 1 only 5 apart,
    # doc 2 lacks y; "x x"~0 needs two x within W = 1
    pbt = {
        "x": [np.array([0]), np.array([0]), np.array([3])],
        "y": [np.array([2]), np.array([5]), None],
    }
    keep = matchers._sloppy_candidates(
        matchers._globals(pbt, ("x", "y")), ("x", "y"), 1, 3
    )
    assert keep.tolist() == [True, False, False]
    pbt = {"x": [np.array([0, 2]), np.array([4, 5]), np.array([1])]}
    keep = matchers._sloppy_candidates(
        matchers._globals(pbt, ("x", "x")), ("x", "x"), 0, 3
    )
    assert keep.tolist() == [False, True, False]
    # a slop beyond any doc keeps every doc holding the terms, with no
    # int64 overflow in the window bounds
    pbt["y"] = [np.array([1]), np.array([9]), np.array([0])]
    keep = matchers._sloppy_candidates(
        matchers._globals(pbt, ("x", "y", "x")), ("x", "y", "x"), 2**63 - 4, 3
    )
    assert keep.tolist() == [True, True, False]


def _rotate_hand_first_loop(P, C):
    """The plain-Python left-to-right tie rotation _rotate_hand_first
    replaced, kept as its reference."""
    L = len(P)
    cont = P[1:] == P[:-1]
    if not cont.any():
        return
    is_start = np.empty(L - 1, dtype=bool)
    is_start[0] = cont[0]
    np.logical_and(cont[1:], ~cont[:-1], out=is_start[1:])
    starts_g = np.flatnonzero(is_start)
    stop_mask = np.empty(L, dtype=bool)
    np.logical_not(cont, out=stop_mask[:-1])
    stop_mask[-1] = True
    stops = np.flatnonzero(stop_mask)
    ends_g = stops[np.searchsorted(stops, starts_g)]
    prev_ok = (starts_g > 0) & (
        (P[np.maximum(starts_g - 1, 0)] >> 32) == (P[starts_g] >> 32)
    )
    Cl = C.tolist()
    for gs, ge, okp in zip(starts_g.tolist(), ends_g.tolist(), prev_ok.tolist()):
        if not okp:
            continue
        h = Cl[gs - 1]
        grp = Cl[gs : ge + 1]
        if h in grp:
            jj = grp.index(h)
            if jj:
                C[gs : ge + 1] = [h] + grp[:jj] + grp[jj + 1 :]
                Cl[gs : ge + 1] = [h] + grp[:jj] + grp[jj + 1 :]


def _merged(clauses):
    """(P, C) in _merged_arrays' (value, clause) order; clauses[c][d] is
    clause c's sorted positions in doc d."""
    g = [
        np.asarray([(d << 32) + p for d, ps in enumerate(per) for p in ps], np.int64)
        for per in clauses
    ]
    vals = np.concatenate(g)
    cls = np.repeat(np.arange(len(g), dtype=np.int64), [len(x) for x in g])
    order = np.lexsort((cls, vals))
    return vals[order], cls[order]


def _check_rotation(clauses):
    P, C = _merged(clauses)
    want = C.copy()
    _rotate_hand_first_loop(P, want)
    got = C.copy()
    matchers._rotate_hand_first(P, got)
    np.testing.assert_array_equal(got, want)
    return C, got


@settings(max_examples=400, deadline=None)
@given(
    st.integers(2, 4).flatmap(
        lambda n: st.lists(
            st.lists(
                st.lists(st.integers(0, 7), max_size=6, unique=True).map(sorted),
                min_size=3,
                max_size=3,
            ),
            min_size=n,
            max_size=n,
        )
    )
)
def test_rotate_hand_first_equals_loop(clauses):
    _check_rotation(clauses)


def test_rotate_hand_first_chained_and_predecessor_free_groups():
    # one doc, values 0,0,1,1,2,2 (+ a lone 3): three abutting tie groups,
    # the first without a predecessor — each later group reads the rotated
    # end of the one before
    before, after = _check_rotation([[[0, 1, 2, 3]], [[0, 1, 2]], [[1]]])
    assert before.tolist() != after.tolist()
    # every tie group opens its doc: no group has an in-doc predecessor
    before, after = _check_rotation([[[0], [0, 5]], [[0], [0]]])
    assert before.tolist() == after.tolist()
    # no ties at all
    _check_rotation([[[0, 2]], [[1, 3]]])
