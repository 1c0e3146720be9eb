"""OSA (restricted Damerau-Levenshtein) edit distance — FuzzyQuery
transpositions=true parity (search/FuzzyQuery.java:30-31,61-81)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lucene_spark.editdist import osa_distance, osa_distances

WORD = st.text(alphabet="abcd", min_size=0, max_size=7)


def test_canonical_pairs():
    # transposition is ONE edit
    assert osa_distance("form", "from") == 1
    assert osa_distance("sprak", "spark") == 1
    # OSA never edits a transposed pair again: differs from unrestricted
    # Damerau-Levenshtein (DL("ca","abc") = 2)
    assert osa_distance("ca", "abc") == 3
    assert osa_distance("abc", "ca") == 3
    # classic sanity
    assert osa_distance("", "abc") == 3
    assert osa_distance("kitten", "sitting") == 3
    assert osa_distance("abc", "abc") == 0


@given(st.lists(WORD, min_size=0, max_size=30), WORD)
@settings(max_examples=150, deadline=None)
def test_vectorized_equals_scalar(cands, term):
    got = osa_distances(cands, term)
    want = np.array([osa_distance(c, term) for c in cands], dtype=np.int64)
    assert np.array_equal(got, want)


@given(WORD, WORD)
@settings(max_examples=300, deadline=None)
def test_osa_bounded_by_classic_levenshtein(a, b):
    # Damerau <= classic, so the classic length band prefilter stays exact
    la, lb = len(a), len(b)
    dp = list(range(lb + 1))
    for i in range(1, la + 1):
        prev, dp[0] = dp[0], i
        for j in range(1, lb + 1):
            cur = min(
                dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1])
            )
            prev, dp[j] = dp[j], cur
    classic = dp[lb]
    osa = osa_distance(a, b)
    assert abs(la - lb) <= osa <= classic


@given(WORD, WORD)
@settings(max_examples=200, deadline=None)
def test_osa_agrees_with_duckdb_damerau_at_distance_1(a, b):
    # the q_fuzzy_transpositions oracle relies on OSA == unrestricted DL at
    # threshold 1 (a single primitive op is the same op in both metrics)
    import duckdb

    dl = duckdb.connect().execute(
        "SELECT damerau_levenshtein(?, ?)", [a, b]
    ).fetchone()[0]
    assert (dl <= 1) == (osa_distance(a, b) <= 1)


def test_fuzzy_ngram_index_equivalence(spark):
    """q-gram candidate pruning (enable_fuzzy_ngram_index) returns the
    SAME fuzzy matches as the full dictionary scan, including
    transposition-only matches at the band edge; short/high-edit patterns
    fall back to the full scan (threshold <= 0)."""
    import numpy as np

    from lucene_spark.build import IndexConfig, build_index
    from lucene_spark.query import FuzzyQuery
    from lucene_spark.search import Searcher

    vocab = ["sparkle", "sparks", "spark", "sprak", "sparc", "shark",
             "spork", "table", "tables", "tbale", "zzz"]
    df = spark.createDataFrame(
        [(i, " ".join([w] * (i + 1))) for i, w in enumerate(vocab)],
        "doc_id long, text string",
    )
    idx = build_index(df, IndexConfig(seg_size=8, with_positions=False),
                      content_col="text", doc_id_col="doc_id",
                      auto_seg_size=False, eager=True)
    plain = Searcher(idx, dtype=np.float32)
    pruned = Searcher(idx, dtype=np.float32)
    pruned.enable_fuzzy_ngram_index(n=2)
    for term, k in [("spark", 1), ("spark", 2), ("tbale", 1),
                    ("sprak", 1), ("zz", 1)]:
        q = FuzzyQuery(term=term, max_edits=k)
        a = sorted(r["doc_id"] for r in plain.matches(q).collect())
        b = sorted(r["doc_id"] for r in pruned.matches(q).collect())
        assert a == b, (term, k, a, b)
    # the prefilter actually prunes: candidates for spark~1 are a strict
    # subset of the dictionary
    cand = pruned._fuzzy_ngram_candidates(FuzzyQuery(term="spark", max_edits=1))
    assert cand is not None
    n_cand = cand.count()
    assert 0 < n_cand < len(vocab)
    # threshold <= 0 -> full-scan fallback
    assert pruned._fuzzy_ngram_candidates(
        FuzzyQuery(term="zz", max_edits=1)
    ) is None
    idx.unpersist()


def test_fuzzy_ngram_index_auto_enables_above_vocab_threshold(spark, monkeypatch):
    """Above search._FUZZY_NGRAM_AUTO distinct terms the q-gram
    candidate index builds itself on the first fuzzy query (the always-on
    Levenshtein-automaton intersection analog, search/FuzzyTermsEnum.java:
    409); below it the banded scan stays (no gram table maintained)."""
    import numpy as np

    from lucene_spark import search
    from lucene_spark.build import IndexConfig, build_index
    from lucene_spark.query import FuzzyQuery
    from lucene_spark.search import Searcher

    vocab = ["sparkle", "sparks", "spark", "sprak", "sparc", "shark",
             "spork", "table", "tables", "tbale", "zzz"]
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(vocab)], "doc_id long, text string"
    )
    idx = build_index(df, IndexConfig(seg_size=8, with_positions=False),
                      content_col="text", doc_id_col="doc_id",
                      auto_seg_size=False, eager=True)
    q = FuzzyQuery(term="spark", max_edits=1)

    monkeypatch.setattr(search, "_FUZZY_NGRAM_AUTO", 5)
    auto = Searcher(idx, dtype=np.float32)
    got_auto = sorted(r["doc_id"] for r in auto.matches(q).collect())
    assert auto._ngram_terms is not None  # auto-built: vocab 11 >= 5
    # the pruned scan is the q-gram semi-join, not the full dictionary
    scan = auto._terms_scan(q)
    assert scan.count() < len(vocab)

    monkeypatch.setattr(search, "_FUZZY_NGRAM_AUTO", 1_000_000)
    banded = Searcher(idx, dtype=np.float32)
    got_banded = sorted(r["doc_id"] for r in banded.matches(q).collect())
    assert banded._ngram_terms is None  # below threshold: banded scan
    assert got_auto == got_banded

    monkeypatch.setattr(search, "_FUZZY_NGRAM_AUTO", 0)
    off = Searcher(idx, dtype=np.float32)
    off.matches(q).collect()
    assert off._ngram_terms is None  # <=0 disables auto entirely
    idx.unpersist()
