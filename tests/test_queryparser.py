"""Classic query parser tests (grammar subset of
queryparser/.../classic/QueryParser.jj:313-372)."""

from lucene_spark.query import (
    BlendedTermQuery,
    BooleanQuery,
    ConstantScoreQuery,
    DisjunctionMaxQuery,
    FuzzyQuery,
    MatchNoDocsQuery,
    Occur,
    PhraseQuery,
    PrefixQuery,
    SynonymQuery,
    TermQuery,
    TermRangeQuery,
    WildcardQuery,
    _rewrite_once,
    bool_query,
    parse,
    rewrite,
)


def occurs(q: BooleanQuery):
    return [(c.occur, c.query) for c in q.clauses]


def test_single_term():
    assert parse("Spark") == TermQuery(term="spark")


def test_and():
    q = parse("spark AND index")
    assert isinstance(q, BooleanQuery)
    assert occurs(q) == [
        (Occur.MUST, TermQuery(term="spark")),
        (Occur.MUST, TermQuery(term="index")),
    ]


def test_or_default():
    q = parse("spark index")
    assert occurs(q) == [
        (Occur.SHOULD, TermQuery(term="spark")),
        (Occur.SHOULD, TermQuery(term="index")),
    ]
    assert parse("spark OR index") == q


def test_plus_minus():
    q = parse("+spark -index merge")
    assert (Occur.MUST, TermQuery(term="spark")) in occurs(q)
    assert (Occur.MUST_NOT, TermQuery(term="index")) in occurs(q)
    assert (Occur.SHOULD, TermQuery(term="merge")) in occurs(q)


def test_and_not():
    q = parse("spark AND NOT index")
    assert (Occur.MUST, TermQuery(term="spark")) in occurs(q)
    assert (Occur.MUST_NOT, TermQuery(term="index")) in occurs(q)


def test_phrase_and_slop():
    assert parse('"fast table"') == PhraseQuery(terms=("fast", "table"))
    assert parse('"fast table"~2') == PhraseQuery(terms=("fast", "table"), slop=2)
    # single-term phrase rewrites to TermQuery
    assert parse('"fast"') == TermQuery(term="fast")


def test_boost():
    assert parse("spark^2.5") == TermQuery(term="spark", boost=2.5)


def test_fuzzy():
    assert parse("spark~1") == FuzzyQuery(term="spark", max_edits=1)
    assert parse("spark~") == FuzzyQuery(term="spark", max_edits=2)


def test_wildcards():
    assert parse("spa*") == PrefixQuery(prefix="spa")
    assert parse("sp?rk") == WildcardQuery(pattern="sp?rk")
    assert parse("*ark*") == WildcardQuery(pattern="*ark*")


def test_range():
    assert parse("[alpha TO beta]") == TermRangeQuery(lower="alpha", upper="beta")
    assert parse("[* TO beta]") == TermRangeQuery(lower=None, upper="beta")


def test_parens_grouping():
    q = parse("(spark OR merge) AND index")
    assert isinstance(q, BooleanQuery)
    musts = [c.query for c in q.clauses if c.occur == Occur.MUST]
    assert TermQuery(term="index") in musts
    inner = [m for m in musts if isinstance(m, BooleanQuery)][0]
    assert {c.query.term for c in inner.clauses} == {"spark", "merge"}


# ---- rewrite rules (BooleanQuery.java:238-340 analogs) ----


def test_rewrite_single_clause_unwrap():
    q = bool_query(must=[TermQuery(term="x")])
    assert rewrite(q) == TermQuery(term="x")


def test_rewrite_pure_negation_matches_nothing():
    q = bool_query(must_not=[TermQuery(term="x")])
    assert isinstance(rewrite(q), MatchNoDocsQuery)


def test_rewrite_must_and_must_not_same_term():
    q = bool_query(must=[TermQuery(term="x")], must_not=[TermQuery(term="x")])
    assert isinstance(rewrite(q), MatchNoDocsQuery)


def test_rewrite_dedups_filters():
    q = bool_query(
        must=[TermQuery(term="y")],
        filter=[TermQuery(term="x"), TermQuery(term="x")],
    )
    r = rewrite(q)
    assert len([c for c in r.clauses if c.occur == Occur.FILTER]) == 1


def test_rewrite_drops_matchnodocs_should():
    q = bool_query(should=[TermQuery(term="x"), MatchNoDocsQuery()])
    assert rewrite(q) == TermQuery(term="x")


def _equality_fixpoint(q):
    """The rewrite loop that stops on deep equality instead of identity."""
    prev = None
    while prev != q:
        prev, q = q, _rewrite_once(q)
    return q


def _t(w, b=1.0):
    return TermQuery(term=w, boost=b)


def test_rewrite_returns_a_normal_form_itself():
    # every query shape of the perfbench pool, already in normal form: one
    # _rewrite_once pass, and the very same object back
    shapes = [
        _t("a"),
        bool_query(should=[_t("a"), _t("b")]),
        bool_query(should=[_t("a"), _t("b"), _t("c")]),
        bool_query(must=[_t("b"), _t("c")]),
        DisjunctionMaxQuery(disjuncts=(_t("a"), _t("c")), tie_breaker=0.1),
        SynonymQuery(terms=("a", "b")),
        BlendedTermQuery(terms=("b", "c"), boosts=(1.0, 2.0), tie_breaker=0.1),
        PhraseQuery(terms=("a", "b")),
        PhraseQuery(terms=("a", "b", "c"), slop=3),
        PhraseQuery(terms=("a", "b", "a"), slop=4),
        bool_query(must=[_t("c")], filter=[PrefixQuery(prefix="ab")]),
    ]
    for q in shapes:
        assert rewrite(q) == q
        assert rewrite(q) is q and _rewrite_once(q) is q, q


def test_rewrite_reaches_the_equality_fixpoint():
    x, y = _t("x"), _t("y")
    cases = [
        bool_query(must=[x]),
        bool_query(must_not=[x]),
        bool_query(must=[x], must_not=[x]),
        bool_query(must=[y], filter=[x, x]),
        bool_query(should=[x, MatchNoDocsQuery()]),
        bool_query(must=[x, MatchNoDocsQuery()]),
        # nested bools: the inner one unwraps, then the outer one
        bool_query(must=[bool_query(must=[bool_query(should=[x])])]),
        bool_query(should=[bool_query(must=[x]), bool_query(should=[y, MatchNoDocsQuery()])]),
        bool_query(must=[bool_query(must=[x], must_not=[x]), y]),
        bool_query(should=[x, y], boost=2.0),
        DisjunctionMaxQuery(disjuncts=(bool_query(must=[x]), MatchNoDocsQuery())),
        DisjunctionMaxQuery(disjuncts=(PhraseQuery(terms=("x",)), y), tie_breaker=0.3),
        ConstantScoreQuery(query=ConstantScoreQuery(query=x)),
        bool_query(should=[PhraseQuery(terms=("x",)), y]),
    ]
    for q in cases:
        got = rewrite(q)
        assert got == _equality_fixpoint(q), q
        assert rewrite(got) is got, q


# ---- escaping (QueryParser.jj <_ESCAPED_CHAR> / discardEscapeChar) ----


def test_escaped_specials_become_literal_terms():
    from lucene_spark.query import WildcardQuery, parse

    # escaped wildcard chars: plain term, not a wildcard query
    q = parse(r"foo\*bar")
    assert q == TermQuery(term="foo*bar") or isinstance(q, TermQuery)
    # trailing unescaped * with only escaped specials inside -> prefix on
    # the literal (unescaped) text
    from lucene_spark.query import PrefixQuery

    q2 = parse(r"fo\?o*")
    assert q2 == PrefixQuery(prefix="fo?o")
    # a mid-pattern unescaped wildcard keeps the WildcardQuery, escapes kept
    q2b = parse(r"f\*o*o")
    assert isinstance(q2b, WildcardQuery) and q2b.pattern == r"f\*o*o"
    # escaped parens / plus don't break the grammar
    q3 = parse(r"a\(b\)c")
    assert isinstance(q3, TermQuery)
    # escaped quote inside a phrase
    q4 = parse(r'"say \"hi\""')
    assert not isinstance(q4, MatchNoDocsQuery)
    # escaped tilde is not a fuzzy marker
    q5 = parse(r"approx\~2")
    assert isinstance(q5, TermQuery)


def test_parse_multifield_expands_bare_terms():
    import dataclasses

    from lucene_spark.query import BooleanClause, BooleanQuery, parse_multifield

    q = parse_multifield("spark lang:en", ["text", "title"])
    assert isinstance(q, BooleanQuery)
    # the bare term became a SHOULD disjunction over both fields...
    flat = []

    def walk(n):
        if isinstance(n, BooleanQuery):
            for c in n.clauses:
                walk(c.query)
        else:
            flat.append(n)

    walk(q)
    bare = [n for n in flat if getattr(n, "term", None) == "spark"]
    assert {n.field for n in bare} == {"text", "title"}
    # ...while the explicitly qualified leaf kept its field
    qual = [n for n in flat if getattr(n, "term", None) == "en"]
    assert [n.field for n in qual] == ["lang"]


def test_lucene_regexp_translation():
    from lucene_spark.search import lucene_regexp_to_java

    assert lucene_regexp_to_java("[sv].*r") == "[sv].*r"  # shared subset
    assert lucene_regexp_to_java("s@") == "s.*"           # ANYSTRING
    assert lucene_regexp_to_java('"a.b"x') == "a\\.bx"    # quoted literal
    assert lucene_regexp_to_java("a\\&b") == "a\\&b"      # escaped passes
    assert lucene_regexp_to_java("[<a>]") == "[<a>]"      # class chars literal
    import pytest as _pytest

    # <n-m> now translates (test_lucene_regexp_decimal_interval); named
    # automata stay automaton-only
    for bad in ("a&b", "~abc", "#", "<foo>"):
        with _pytest.raises((NotImplementedError,)):
            lucene_regexp_to_java(bad)


def test_fuzzy_after_escaped_backslash_is_operator():
    # 'term\\~2': the backslash run before '~' has EVEN length, so '~2' is
    # a live fuzzy operator on the unescaped term 'term\'
    q = parse("term\\\\~2")
    assert isinstance(q, FuzzyQuery) and q.max_edits == 2
    assert q.term.startswith("term")
    # single backslash: '~' escaped, stays literal text
    q2 = parse("ter\\~2")
    assert not isinstance(q2, FuzzyQuery)


def test_lucene_regexp_bare_gt_is_literal():
    from lucene_spark.search import lucene_regexp_to_java
    import re as _re

    assert _re.fullmatch(lucene_regexp_to_java("a>b"), "a>b")
    # named automata (non-numeric <...>) stay automaton-only
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        lucene_regexp_to_java("<myauto>")


def test_lucene_regexp_decimal_interval():
    import re as _re
    from lucene_spark.search import _decimal_interval_regex, lucene_regexp_to_java

    # brute-force the digits=0 (leading zeros allowed) and fixed-width forms
    for mn, mx, digits in [(1, 20, 0), (0, 255, 0), (12, 3456, 0),
                           (7, 7, 1), (0, 99, 2), (17, 23, 2), (90, 210, 0)]:
        r = _re.compile("^(?:" + _decimal_interval_regex(mn, mx, digits) + ")$")
        for v in range(0, min(mx * 2 + 5, 5000)):
            for pad in (0, 1, 3):
                s = str(v).zfill(len(str(v)) + pad)
                if digits > 0:
                    want = mn <= v <= mx and len(s) == digits
                else:
                    want = mn <= v <= mx
                assert bool(r.match(s)) == want, (mn, mx, digits, s)
    # <n-m> composes inside a pattern; equal-width bounds pin the width
    r = _re.compile("^(?:" + lucene_regexp_to_java("v<1-20>x") + ")$")
    assert r.match("v7x") and r.match("v007x") and not r.match("v21x")
    r2 = _re.compile("^(?:" + lucene_regexp_to_java("<01-20>") + ")$")
    assert r2.match("07") and r2.match("20") and not r2.match("7")


def test_lucene_regexp_top_level_ops():
    from lucene_spark.search import split_lucene_regexp_ops

    assert split_lucene_regexp_ops("s.*&.*k") == [[(False, "s.*"), (False, ".*k")]]
    assert split_lucene_regexp_ops("~(s.*)&.*k") == [[(True, "s.*"), (False, ".*k")]]
    assert split_lucene_regexp_ops("a|#|b") == [[(False, "a")], [(False, "b")]]
    # & inside a group is NOT split here (and still raises downstream)
    assert split_lucene_regexp_ops("(a&b)c") == [[(False, "(a&b)c")]]
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        split_lucene_regexp_ops("~abc")  # unparenthesized complement


def test_range_bracket_kinds():
    """[] inclusive, {} exclusive, mixed (QueryParser.jj RangeQuery)."""
    from lucene_spark.query import TermRangeQuery, parse

    for s, il, iu in [
        ("[a TO b]", True, True), ("{a TO b}", False, False),
        ("[a TO b}", True, False), ("{a TO b]", False, True),
    ]:
        q = parse(s)
        assert isinstance(q, TermRangeQuery)
        assert (q.include_lower, q.include_upper) == (il, iu), s
        assert (q.lower, q.upper) == ("a", "b")
    q = parse("{* TO b]")
    assert q.lower is None and q.include_upper


def test_standard_parse_points_config():
    """StandardQueryParser PointsConfig: ranges on configured numeric
    fields become point ranges; exclusive bounds step inward (1 for
    ints, one ulp for floats)."""
    import math

    from lucene_spark.query import (
        PointRangeQuery,
        TermRangeQuery,
        standard_parse,
    )

    q = standard_parse("n:[100 TO 900}", points_config={"n": int})
    assert q == PointRangeQuery(field_col="n", lower=100, upper=899)
    q2 = standard_parse("x:{1.5 TO 2.5]", points_config={"x": float})
    assert q2.lower == math.nextafter(1.5, math.inf) and q2.upper == 2.5
    # open ends survive as None
    q3 = standard_parse("n:[* TO 10]", points_config={"n": int})
    assert q3 == PointRangeQuery(field_col="n", lower=None, upper=10)
    # unconfigured fields keep term-range semantics
    q4 = standard_parse("s:[a TO b]", points_config={"n": int})
    assert isinstance(q4, TermRangeQuery)
