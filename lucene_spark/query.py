"""Query AST (logical operators), rewrite rules and a classic-syntax parser.

AST mirrors the reference's Query tree (SURVEY.md §2.4); rewrites mirror
BooleanQuery.rewrite simplifications (search/BooleanQuery.java:238-340) and
the multi-term constant-score rewrite (search/MultiTermQuery.java). The parser
is a small recursive-descent implementation of the classic QueryParser
grammar subset (queryparser/.../classic/QueryParser.jj:313-372): terms,
AND/OR/NOT/+/-, quoted phrases (~slop), wildcards, fuzzy ~n, ranges
[a TO b], boosts ^f, grouping parens.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field
from enum import Enum
from typing import List, Optional, Tuple


class Occur(Enum):
    MUST = "MUST"
    SHOULD = "SHOULD"
    FILTER = "FILTER"
    MUST_NOT = "MUST_NOT"


@dataclass(frozen=True)
class Query:
    boost: float = 1.0


@dataclass(frozen=True)
class TermQuery(Query):
    term: str = ""
    field: Optional[str] = None  # None = the (single/default) field


@dataclass(frozen=True)
class PhraseQuery(Query):
    terms: Tuple[str, ...] = ()
    slop: int = 0
    field: Optional[str] = None


@dataclass(frozen=True)
class MultiPhraseQuery(Query):
    """Phrase with term alternatives per slot (search/MultiPhraseQuery.java):
    slot i matches if ANY of slots[i]'s terms occurs at start_pos + i.
    slop > 0 (setSlop) runs SloppyPhraseMatcher over the per-slot union
    postings — alternatives shared across slots engage the repeat-group
    machinery (hasMultiTermRpts)."""

    slots: Tuple[Tuple[str, ...], ...] = ()
    slop: int = 0


@dataclass(frozen=True)
class FieldMaskedTerm:
    """FieldMaskingSpanQuery wrapping a SpanTermQuery
    (search/spans/FieldMaskingSpanQuery.java): the wrapped term's position
    stream comes from ``field``'s index, but the clause REPORTS the
    enclosing span query's field — the 'mask'. This is how the reference
    runs SpanNearQuery across parallel fields (the javadoc's teacher
    first/last example) or matches stopped-out terms from an unfiltered
    twin field while scoring against the filtered field's norms. Only a
    MultiFieldSearcher can evaluate it (a single-field Searcher has no
    other position source) — mirroring how the reference needs both
    fields in one segment."""

    field: str = ""
    term: str = ""


@dataclass(frozen=True)
class SpanNearQuery(Query):
    """Positional proximity (search/spans/SpanNearQuery.java), rank-exact:
    in_order enumerates NearSpansOrdered's greedy monotone chains, unordered
    runs NearSpansUnordered's advance-min walk; freq accumulates
    1/(1 + (endPosition - startPosition)) per match, exactly SpanScorer's
    setFreqCurrentDoc + computeSlopFactor (see lucene_spark/matchers.py).
    A clause may be a FieldMaskedTerm (FieldMaskingSpanQuery) — positions
    then stream from the named field's index while norms and collection
    statistics stay on this query's field (SpanWeight.buildSimWeight uses
    collectionStatistics(getField()) with each term's OWN TermStates)."""

    terms: Tuple[object, ...] = ()  # str | FieldMaskedTerm
    slop: int = 0
    in_order: bool = True
    field: Optional[str] = None


@dataclass(frozen=True)
class SpanOrQuery(Query):
    """Union of term spans (search/spans/SpanOrQuery.java): matches docs
    containing ANY of the terms; freq = Σ 1/(1+(end-start)) over every
    matching span = 0.5 * total occurrences for point spans; idf summed
    over the clauses' terms (SpanWeight collects all clause terms)."""

    terms: Tuple[str, ...] = ()


@dataclass(frozen=True)
class SpanContainQuery(Query):
    """SpanContainingQuery / SpanWithinQuery
    (search/spans/SpanContainingQuery.java, SpanWithinQuery.java):
    kind='containing' emits BIG spans that contain a LITTLE span,
    kind='within' emits LITTLE spans lying inside a BIG span — both via
    the reference's persistent two-pointer cursors over the operand span
    streams (ends are not monotone for near spans, so the cursor state
    matters). Operands are a term (str) or a SpanNearQuery. freq =
    Σ 1/(1+(end-start)) over emitted source spans; idf over the distinct
    terms of both operands (SpanWeight collects the whole tree)."""

    kind: str = "containing"
    big: object = None  # str | SpanNearQuery
    little: object = None  # str | SpanNearQuery


@dataclass(frozen=True)
class SpanNotQuery(Query):
    """Include spans with no exclude span overlapping the window
    (search/spans/SpanNotQuery.java:199-215): a candidate include span
    (cs, ce) is rejected iff some exclude span (xs, xe) has
    xe > cs - pre AND xs < ce + post. For point operands this reduces to
    'no exclude position in [p - pre, p + post]'. ``include`` is a term
    or a SpanNearQuery; ``exclude`` entries likewise (span operands run
    the NearSpans span-stream kernels). idf is built from the INCLUDE
    terms only (SpanNotWeight.extractTermStates, :146-148)."""

    include: object = ""  # str | SpanNearQuery
    exclude: Tuple = ()  # (str | SpanNearQuery, ...)
    pre: int = 0
    post: int = 0


@dataclass(frozen=True)
class SpanFirstQuery(Query):
    """Spans ending within the first ``end`` positions
    (search/spans/SpanFirstQuery.java): point span at p matches iff
    p + 1 <= end."""

    term: str = ""
    end: int = 1


@dataclass(frozen=True)
class SpanPositionRangeQuery(Query):
    """Spans whose edges fall inside [start, end]
    (search/spans/SpanPositionRangeQuery.java acceptPosition): a span is
    kept iff spanStart >= start AND spanEnd <= end. SpanFirstQuery is the
    start=0 specialization. ``match`` is a term (point span: position p
    kept iff start <= p and p + 1 <= end) or a SpanNearQuery (the filter
    runs over the near spans' actual match windows). freq =
    Σ 1/(1+(end-start)) over accepted spans; idf over the operand's terms
    in multiplicity, like SpanWeight's term-states map."""

    match: object = None  # str | SpanNearQuery
    start: int = 0
    end: int = 1


@dataclass(frozen=True)
class IntervalQuery(Query):
    """Minimal-interval proximity (queries/intervals/IntervalQuery.java)
    over term sources: Intervals.ordered / Intervals.unordered with an
    optional maxgaps filter. freq = Σ 1/max(length - minExtent + 1, 1) over
    the MINIMAL interval set (IntervalScorer.java:69-74); score = boost *
    (1 - pivot/(freq + pivot)) — the saturation function, pivot default 1
    (IntervalScoreFunction.java:56-75) — idf- and norm-free."""

    terms: Tuple[str, ...] = ()
    ordered: bool = True
    max_gaps: int = -1  # -1 = unlimited (Intervals.maxgaps absent)
    max_width: int = -1  # -1 = unlimited (Intervals.maxwidth absent):
    # keep minimal intervals with end - start + 1 <= max_width
    # (FilteredIntervalsSource.MaxWidth accept(), queries/intervals/
    # FilteredIntervalsSource.java:68)
    pivot: float = 1.0


@dataclass(frozen=True)
class IntervalFilterQuery(Query):
    """Interval filter algebra (queries/intervals filter sources +
    Intervals.before/after): emits the SOURCE side's minimal intervals that
    stand in `kind`'s relation to the reference stream. Conjunction kinds
    (containing, contained_by, overlapping, before, after) require both
    operands in a doc; difference kinds (not_containing, not_contained_by,
    non_overlapping) emit every source interval where the reference is
    absent (DifferenceIntervalsSource semantics). Scoring mirrors
    IntervalQuery with the source's minExtent."""

    kind: str = "containing"
    source: Optional[IntervalQuery] = None
    reference: Optional[IntervalQuery] = None
    # within / not_within only (Intervals.within()/notWithin(), the
    # reference's containedBy/nonOverlapping against
    # extend(reference, positions, positions) compositions —
    # Intervals.java:333-351): max distance between source and reference
    positions: int = 0
    pivot: float = 1.0


@dataclass(frozen=True)
class IntervalMultiTerm:
    """A multi-term interval source usable as a slot inside IntervalQuery /
    AtLeastIntervalQuery terms (queries/intervals/Intervals.java prefix() /
    wildcard() / fuzzyTerm() → MultiTermIntervalsSource): the pattern
    expands against the terms dictionary into Intervals.or over the
    matching point terms, capped at max_expansions — the reference throws
    once the automaton expands past the cap (default 128,
    Intervals.DEFAULT_MAX_EXPANSIONS), which is what keeps the expansion
    driver-bounded at any corpus scale."""

    kind: str = "prefix"  # prefix | wildcard | fuzzy | regexp
    pattern: str = ""
    max_expansions: int = 128
    # fuzzy() only — FuzzyQuery defaults (fuzzyTerm delegates to them)
    max_edits: int = 2
    prefix_length: int = 0
    transpositions: bool = True


@dataclass(frozen=True)
class CombinedFieldQuery(Query):
    """CombinedFieldQuery (sandbox/search/CombinedFieldQuery.java) — the
    BM25F shape: a term scored against a SYNTHETIC field combining
    several real fields with weights >= 1. freq = Σ_f w_f * tf_f
    (WeightedDisiWrapper.freq summed by CombinedFieldScorer); the norm is
    re-quantized from the weighted sum of each field's DECODED norm
    length — intToByte4(round(Σ w_f * LENGTH_TABLE[norm_f])),
    MultiNormsLeafSimScorer.MultiFieldNormValues; pseudo term stats: df =
    max over fields, ttf = truncate(Σ w_f * ttf_f) floored at 1; pseudo
    collection stats: docCount = max, sumTotalTermFreq = truncate(Σ w_f *
    sttf_f). Only a MultiFieldSearcher can evaluate it."""

    term: str = ""
    fields: Tuple = ()  # ((field_name, weight), ...) — weights >= 1


@dataclass(frozen=True)
class CoveringQuery(Query):
    """CoveringQuery (sandbox/search/CoveringQuery.java): matches docs
    where at least ``minimumNumberMatch`` of the sub-queries match — a
    BooleanQuery whose minimumShouldMatch is a PER-DOC long value. The
    reference reads it from a LongValuesSource; here ``min_match_expr``
    is a Spark SQL expression over the stored doc-values columns (the
    Catalyst LongValuesSource). Values below 1 behave as 1; docs where
    the expression is NULL do not match (CoveringQuery.java:62-65).
    score = sum of the matching sub-queries' scores
    (CoveringScorer.score)."""

    queries: Tuple[Query, ...] = ()
    min_match_expr: str = "1"


@dataclass(frozen=True)
class IndexSortRangeQuery(Query):
    """IndexSortSortedNumericDocValuesRangeQuery (sandbox/search/
    IndexSortSortedNumericDocValuesRangeQuery.java:71-239): a numeric
    range over the index's LEADING sort field evaluated as a doc_id
    interval — the binary search for 'first doc with value >= lower' /
    'first doc with value > upper' (:205-238) becomes one column-pruned
    min/max(doc_id) scan, and the result is a pure doc_id-range predicate
    that every downstream Parquet scan prunes on. Falls back to
    ``fallback`` when the index declares no matching sort (rewrite →
    fallbackQuery, :146). Constant score (boost); bounds inclusive."""

    field_col: str = ""
    lower: Optional[float] = None
    upper: Optional[float] = None
    fallback: Optional[Query] = None


@dataclass(frozen=True)
class BlendedTermQuery(Query):
    """BlendedTermQuery (core/search/BlendedTermQuery.java:271-300):
    blends index statistics across terms so cross-field/variant terms
    score comparably — every term is scored as a TermQuery with the
    ARTIFICIAL stats df = max(df_i), ttf = sum(ttf_i), each boosted by
    its own weight, then combined by the rewrite method:
    ``dismax`` (DisjunctionMaxQuery, default tie 0.01 —
    DISJUNCTION_MAX_REWRITE, :190) or ``boolean`` (SHOULD sum,
    BOOLEAN_REWRITE, :135-148)."""

    terms: Tuple[str, ...] = ()
    boosts: Tuple[float, ...] = ()  # empty = all 1.0
    tie_breaker: float = 0.01
    rewrite: str = "dismax"  # dismax | boolean
    boost: float = 1.0


@dataclass(frozen=True)
class ToParentBlockJoinQuery(Query):
    """ToParentBlockJoinQuery (join/ToParentBlockJoinQuery.java): child
    matches roll up to their block's parent doc. Blocks are doc_id
    adjacency — children precede the parent — and parents are identified
    by ``parents``: either a Spark SQL boolean expression over the docs
    table (the BitSetProducer role) or a Query. Parent score aggregates
    the child scores in DOUBLE (ToParentBlockJoinQuery.java:352-394):
    ``total``/``avg`` sum (avg divides by matched-child count), ``min``/
    ``max`` fold, ``none`` scores 0 (the child runs under a 0-boost
    constant score, :95-103). A child query matching a parent doc raises
    (:380-388). Query boost belongs on the child query (the reference
    pushes createWeight's boost into the child weight)."""

    child: Query = None
    parents: object = None  # SQL expr str over docs cols, or a Query
    score_mode: str = "none"  # none | avg | max | total | min


@dataclass(frozen=True)
class ToChildBlockJoinQuery(Query):
    """ToChildBlockJoinQuery (join/ToChildBlockJoinQuery.java): a query
    matching PARENT docs fans out to every child in the parent's block,
    each child scored with the parent's score (or 0 when ``do_scores``
    is False, :196-206). A parent-query match on a non-parent doc raises
    (ToChildBlockJoinScorer.validateParentDoc)."""

    parent: Query = None
    parents: object = None
    do_scores: bool = True


@dataclass(frozen=True)
class ParentChildrenBlockJoinQuery(Query):
    """ParentChildrenBlockJoinQuery (join/ParentChildrenBlockJoinQuery.
    java): the children of ONE given parent doc that match the child
    query, scored by the child query — the 'expand matched parents back
    into their matching children' operation."""

    parent_doc_id: int = -1
    child: Query = None
    parents: object = None


@dataclass(frozen=True)
class FunctionScoreQuery(Query):
    """FunctionScoreQuery (queries/function/FunctionScoreQuery.java) over a
    compiled expression (expressions/js/JavascriptCompiler.java): matching
    docs come from the wrapped query; the score is the expression value
    times boost, with the reference's guard — missing, negative, or NaN
    expression values score 0 (FunctionScoreWeight's scorer,
    FunctionScoreQuery.java:238-247).

    ``bindings`` maps each free variable to its DoubleValuesSource analog
    (SimpleBindings): the sentinel :data:`lucene_spark.expressions.SCORE`
    for the wrapped query's relevance score, a stored doc-values column
    name, or a Query (DoubleValuesSource.fromQuery — the sub-query's score
    where it matches, 0.0 where it doesn't; boostByQuery's conditional
    factor is then the expression ``b != 0 ? boost : 1``)."""

    query: Optional[Query] = None
    expression: str = ""
    bindings: Tuple = ()  # ((var, SCORE | column_name | Query), ...)


@dataclass(frozen=True)
class NoOverlapsIntervalQuery(Query):
    """Intervals.unorderedNoOverlaps(a, b) (queries/intervals/
    Intervals.java:285-287): intervals where both operands appear without
    overlapping — defined in the reference itself as
    or(ordered(a, b), ordered(b, a)). Operands are point sources: a bare
    term, an Intervals.or tuple of alternatives, or an IntervalMultiTerm.
    Scoring mirrors IntervalQuery (saturation, pivot) with the
    disjunction's minExtent = 2."""

    a: object = None
    b: object = None
    pivot: float = 1.0


@dataclass(frozen=True)
class ExtendedIntervalQuery(Query):
    """Intervals.extend(source, before, after)
    (queries/intervals/ExtendedIntervalsSource.java): each interval of the
    wrapped source stretches to (max(start - before, 0), end + after); the
    source's maxgaps applies before extension, minExtent grows by
    before + after. Scoring mirrors IntervalQuery (saturation, pivot)."""

    source: Optional[IntervalQuery] = None
    before: int = 0
    after: int = 0
    pivot: float = 1.0


@dataclass(frozen=True)
class AtLeastIntervalQuery(Query):
    """Intervals.atLeast(minShouldMatch, sources...)
    (queries/intervals/MinimumShouldMatchIntervalsSource.java): minimal
    intervals covering at least min_should_match of the slot sources; a
    slot is a term, a tuple of alternatives (Intervals.or), or an
    IntervalMultiTerm. minExtent = sum of the m smallest sub-extents = m
    for point slots; scoring mirrors IntervalQuery."""

    terms: Tuple = ()
    min_should_match: int = 1
    max_gaps: int = -1
    pivot: float = 1.0


@dataclass(frozen=True)
class SynonymQuery(Query):
    terms: Tuple[str, ...] = ()


@dataclass(frozen=True)
class PrefixQuery(Query):
    prefix: str = ""
    field: Optional[str] = None


@dataclass(frozen=True)
class WildcardQuery(Query):
    pattern: str = ""  # * = any run, ? = any single char
    field: Optional[str] = None


@dataclass(frozen=True)
class RegexpQuery(Query):
    regexp: str = ""


@dataclass(frozen=True)
class FuzzyQuery(Query):
    term: str = ""
    max_edits: int = 2
    prefix_length: int = 0  # leading chars that must match exactly (FuzzyQuery.java)
    # the reference default measures Damerau-Levenshtein with the optimal
    # string alignment restriction (FuzzyQuery.java:30-31, 61-81 —
    # transpositions=true); False selects classic Levenshtein
    transpositions: bool = True
    field: Optional[str] = None


@dataclass(frozen=True)
class TermRangeQuery(Query):
    lower: Optional[str] = None
    upper: Optional[str] = None
    include_lower: bool = True
    include_upper: bool = True


@dataclass(frozen=True)
class TermInSetQuery(Query):
    terms: Tuple[str, ...] = ()


@dataclass(frozen=True)
class PointRangeQuery(Query):
    """Numeric range over a doc-values column (search/PointRangeQuery.java
    via LongPoint/DoublePoint.newRangeQuery): constant-score matches where
    lower <= col <= upper (None = open end). Evaluates as a native Catalyst
    range filter pushed into the docs Parquet scan — the BKD tree's role."""

    field_col: str = ""
    lower: Optional[float] = None
    upper: Optional[float] = None


@dataclass(frozen=True)
class PointInSetQuery(Query):
    """Numeric set membership (search/PointInSetQuery.java): constant-score
    matches where the doc-values column equals any given value."""

    field_col: str = ""
    values: Tuple[float, ...] = ()


@dataclass(frozen=True)
class FeatureQuery(Query):
    """Static per-doc feature boost (document/FeatureField.java analog,
    SURVEY §2.4 'score + log(feature_col)'): matches every doc whose
    ``feature`` column is non-null, scored boost * ln(1 + feature). Combine
    with relevance via a SHOULD clause, like FeatureField's intended use."""

    feature: str = ""


@dataclass(frozen=True)
class MatchAllDocsQuery(Query):
    pass


@dataclass(frozen=True)
class MatchNoDocsQuery(Query):
    reason: str = ""


@dataclass(frozen=True)
class ConstantScoreQuery(Query):
    query: Optional[Query] = None


@dataclass(frozen=True)
class BooleanClause:
    query: Query
    occur: Occur


@dataclass(frozen=True)
class BooleanQuery(Query):
    clauses: Tuple[BooleanClause, ...] = ()
    minimum_should_match: int = 0


@dataclass(frozen=True)
class DisjunctionMaxQuery(Query):
    disjuncts: Tuple[Query, ...] = ()
    tie_breaker: float = 0.0


def bool_query(
    must=(), should=(), filter=(), must_not=(), msm: int = 0, boost: float = 1.0
) -> BooleanQuery:
    clauses = (
        tuple(BooleanClause(q, Occur.MUST) for q in must)
        + tuple(BooleanClause(q, Occur.SHOULD) for q in should)
        + tuple(BooleanClause(q, Occur.FILTER) for q in filter)
        + tuple(BooleanClause(q, Occur.MUST_NOT) for q in must_not)
    )
    return BooleanQuery(boost=boost, clauses=clauses, minimum_should_match=msm)


# ---------------------------------------------------------------------------
# Rewrites (IndexSearcher.rewrite fixpoint, search/IndexSearcher.java:765-774)
# ---------------------------------------------------------------------------


def rewrite(q: Query) -> Query:
    """The fixpoint of _rewrite_once, which returns its argument itself when
    nothing changes: IndexSearcher.rewrite's reference-inequality loop, so a
    query already in normal form costs one pass and no deep comparison."""
    while True:
        r = _rewrite_once(q)
        if r is q:
            return q
        q = r


def _rewrite_once(q: Query) -> Query:
    if isinstance(q, BooleanQuery):
        clauses = []
        for c in q.clauses:
            r = _rewrite_once(c.query)
            clauses.append(c if r is c.query else BooleanClause(r, c.occur))
        # drop MatchNoDocs SHOULD clauses; MatchNoDocs MUST/FILTER => no match
        kept = []
        for c in clauses:
            if isinstance(c.query, MatchNoDocsQuery):
                if c.occur in (Occur.MUST, Occur.FILTER):
                    return MatchNoDocsQuery(reason="MUST clause matches nothing")
                continue  # SHOULD / MUST_NOT of nothing: drop
            kept.append(c)
        # dedup FILTER and MUST_NOT clauses (BooleanQuery.java:288-310)
        seen = set()
        deduped = []
        for c in kept:
            key = (c.occur, c.query) if c.occur in (Occur.FILTER, Occur.MUST_NOT) else id(c)
            if key in seen:
                continue
            seen.add(key)
            deduped.append(c)
        kept = deduped
        # a query that is both MUST and MUST_NOT matches nothing (:318-330)
        neg = {c.query for c in kept if c.occur == Occur.MUST_NOT}
        if any(c.query in neg for c in kept if c.occur in (Occur.MUST, Occur.FILTER)):
            return MatchNoDocsQuery(reason="MUST ∩ MUST_NOT")
        pos = [c for c in kept if c.occur != Occur.MUST_NOT]
        if not pos:
            return MatchNoDocsQuery(reason="pure negation")
        # single positive clause, no msm constraint: unwrap (:238-264)
        if (
            len(kept) == 1
            and kept[0].occur in (Occur.MUST, Occur.SHOULD)
            and q.minimum_should_match <= 1
            and q.boost == 1.0
        ):
            return kept[0].query
        if len(kept) == len(q.clauses) and all(a is b for a, b in zip(kept, q.clauses)):
            return q
        return BooleanQuery(
            boost=q.boost, clauses=tuple(kept), minimum_should_match=q.minimum_should_match
        )
    if isinstance(q, ConstantScoreQuery) and isinstance(q.query, ConstantScoreQuery):
        return ConstantScoreQuery(boost=q.boost, query=q.query.query)
    if isinstance(q, DisjunctionMaxQuery):
        djs = tuple(_rewrite_once(d) for d in q.disjuncts)
        djs = tuple(d for d in djs if not isinstance(d, MatchNoDocsQuery))
        if not djs:
            return MatchNoDocsQuery(reason="empty dismax")
        if len(djs) == 1 and q.boost == 1.0:
            return djs[0]
        if len(djs) == len(q.disjuncts) and all(a is b for a, b in zip(djs, q.disjuncts)):
            return q
        return DisjunctionMaxQuery(boost=q.boost, disjuncts=djs, tie_breaker=q.tie_breaker)
    if isinstance(q, PhraseQuery) and len(q.terms) == 1:
        return TermQuery(boost=q.boost, term=q.terms[0], field=q.field)
    if isinstance(q, MultiPhraseQuery):
        # MultiPhraseQuery.java rewrite analogs: all-singleton slots -> plain
        # phrase; one slot -> synonym-ish disjunction handled as 1-slot match
        if all(len(s) == 1 for s in q.slots):
            return rewrite(PhraseQuery(boost=q.boost, terms=tuple(s[0] for s in q.slots)))
    if isinstance(q, SpanNearQuery) and len(q.terms) == 1:
        return TermQuery(boost=q.boost, term=q.terms[0])
    return q


# ---------------------------------------------------------------------------
# Classic query parser (subset)
# ---------------------------------------------------------------------------

_TOKEN_SPEC = [
    ("LPAREN", r"\("),
    ("RPAREN", r"\)"),
    ("AND", r"AND\b|&&"),
    ("OR", r"OR\b|\|\|"),
    ("NOT", r"NOT\b"),
    ("PLUS", r"\+"),
    ("MINUS", r"-"),
    ("PHRASE", r'"(?:\\.|[^"\\])*"'),
    ("FIELD", r"[A-Za-z_][A-Za-z0-9_]*:(?=\S)"),
    # [] inclusive, {} exclusive, mixed allowed (QueryParser.jj RangeQuery:
    # the bracket kind sets includeLower/includeUpper independently)
    ("RANGE", r"[\[{][^\]}]+ TO [^\]}]+[\]}]"),
    ("BOOST", r"\^\d+(?:\.\d+)?"),
    # \x escapes any character (QueryParser.jj <_ESCAPED_CHAR>)
    ("TERM", r"(?:\\.|[^\s()+\-\"\[\]^\\])+"),
    ("WS", r"\s+"),
]
_TOKEN_RE = re.compile("|".join(f"(?P<{n}>{p})" for n, p in _TOKEN_SPEC))
_BOOST_RE = re.compile(r"\^(\d+(?:\.\d+)?)$")
_FUZZY_RE = re.compile(r"~(\d?)$")
_FIELD_RE = re.compile(r"^([A-Za-z_][A-Za-z0-9_]*):(.*)$")


def _lex(s: str):
    for m in _TOKEN_RE.finditer(s):
        if m.lastgroup != "WS":
            yield m.lastgroup, m.group()


def _unescape(raw: str) -> str:
    """QueryParser.discardEscapeChar analog: drop the backslash, keep the
    escaped character literally."""
    return re.sub(r"\\(.)", r"\1", raw)


def _has_unescaped(raw: str, chars: str) -> bool:
    i = 0
    while i < len(raw):
        if raw[i] == "\\":
            i += 2
            continue
        if raw[i] in chars:
            return True
        i += 1
    return False


def _analyze_term(raw: str, analyze) -> str:
    # Analyzer.normalize analog (StandardAnalyzer.java:99-103): lowercase
    toks = analyze(raw)
    return toks[0] if toks else raw.lower()


def parse(query: str, analyze=None, phrase_builder=None,
          points_config=None) -> Query:
    """Parse classic syntax into the AST. ``analyze`` normalizes bare terms
    (defaults to the standard chain). ``phrase_builder(body, slop)``, when
    given, builds quoted phrases instead of PhraseQuery — the
    getFieldQuery(field, text, slop) override hook that
    ComplexPhraseQueryParser uses. ``points_config`` maps field names to
    int or float: a range on such a field becomes a PointRangeQuery with
    numeric bounds (StandardQueryParser's PointsConfig,
    queryparser/flexible/standard/config/PointsConfig.java +
    PointQueryNodeProcessor — exclusive bounds step by 1 for ints and one
    ulp for floats, like the reference's exclusive adjustment)."""
    if analyze is None:
        from .analysis import standard_analyze

        analyze = standard_analyze
    tokens = list(_lex(query))
    pos = [0]

    def peek():
        return tokens[pos[0]] if pos[0] < len(tokens) else (None, None)

    def advance():
        t = tokens[pos[0]]
        pos[0] += 1
        return t

    def parse_atom() -> Tuple[Query, Optional[Occur]]:
        kind, text = peek()
        occur = None
        while kind in ("PLUS", "MINUS", "NOT"):
            advance()
            occur = Occur.MUST if kind == "PLUS" else Occur.MUST_NOT
            kind, text = peek()
        boost = 1.0
        if kind == "LPAREN":
            advance()
            inner = parse_or()
            if isinstance(inner, _Occurred):
                occur = inner.occur if occur is None else occur
                inner = inner.query
            k, _ = peek()
            if k == "RPAREN":
                advance()
            k, t = peek()
            if k == "BOOST":
                advance()
                inner = _with_boost(inner, float(t[1:]))
            return inner, occur
        if kind == "PHRASE":
            advance()
            body = _unescape(text[1:-1])
            slop = 0
            k, t = peek()
            if k == "TERM" and t.startswith("~"):
                advance()
                slop = int(t[1:] or 0)
            if phrase_builder is not None:
                return phrase_builder(body, slop), occur
            terms = tuple(analyze(body))
            q: Query = (
                PhraseQuery(terms=terms, slop=slop)
                if len(terms) != 1
                else TermQuery(term=terms[0])
            )
            return q, occur
        if kind == "FIELD":
            # classic `field:term` / `field:"phrase"` syntax
            advance()
            fname = text[:-1]
            inner, occ2 = parse_atom()
            if (
                points_config
                and fname in points_config
                and isinstance(inner, TermRangeQuery)
            ):
                inner = _point_range_from_term_range(
                    inner, fname, points_config[fname]
                )
            else:
                inner = _with_field(inner, fname)
            return inner, occur if occ2 is None else occ2
        if kind == "RANGE":
            advance()
            body = text[1:-1]
            lo, hi = [x.strip() for x in body.split(" TO ")]
            return (
                TermRangeQuery(
                    lower=None if lo == "*" else _analyze_term(lo, analyze),
                    upper=None if hi == "*" else _analyze_term(hi, analyze),
                    include_lower=text[0] == "[",
                    include_upper=text[-1] == "]",
                ),
                occur,
            )
        if kind == "TERM":
            advance()
            raw = text
            k2, t2 = peek()
            if k2 == "BOOST":
                advance()
                boost = float(t2[1:])
            fz = _FUZZY_RE.search(raw)
            # '~' is escaped iff preceded by an ODD run of backslashes (the
            # reference unescapes pairwise, QueryParserBase.discardEscapeChar)
            nbs = 0
            if fz:
                j = fz.start() - 1
                while j >= 0 and raw[j] == "\\":
                    nbs += 1
                    j -= 1
            if fz and nbs % 2 == 0:
                max_edits = int(fz.group(1) or 2)
                raw = raw[: fz.start()]
                return (
                    FuzzyQuery(
                        boost=boost,
                        term=_analyze_term(_unescape(raw), analyze),
                        max_edits=max_edits,
                    ),
                    occur,
                )
            if _has_unescaped(raw, "*?"):
                # escaped specials inside a wildcard pattern stay literal
                # after _unescape; only UNESCAPED */? act as wildcards here
                if (
                    raw.endswith("*")
                    and not _has_unescaped(raw[:-1], "*?")
                ):
                    return (
                        PrefixQuery(boost=boost, prefix=_unescape(raw[:-1]).lower()),
                        occur,
                    )
                return WildcardQuery(boost=boost, pattern=raw.lower()), occur
            term = _analyze_term(_unescape(raw), analyze)
            return TermQuery(boost=boost, term=term), occur
        # fallthrough: unexpected token
        advance()
        return MatchNoDocsQuery(), occur

    def parse_and() -> Query:
        left, occ = parse_atom()
        clauses = [(left, occ)]
        while True:
            kind, _ = peek()
            if kind == "AND":
                advance()
                nxt, occ2 = parse_atom()
                clauses.append((nxt, occ2))
            else:
                break
        if len(clauses) == 1:
            q, occ = clauses[0]
            return _occurred(q, occ)
        must = [q for q, o in clauses if o != Occur.MUST_NOT]
        must_not = [q for q, o in clauses if o == Occur.MUST_NOT]
        return bool_query(must=must, must_not=must_not)

    def parse_or() -> Query:
        parts: List[Query] = [parse_and()]
        explicit_or = False
        while True:
            kind, _ = peek()
            if kind == "OR":
                advance()
                explicit_or = True
                parts.append(parse_and())
            elif kind in ("TERM", "PHRASE", "PLUS", "MINUS", "NOT", "LPAREN",
                          "RANGE", "FIELD"):
                # implicit OR (default operator SHOULD), with +/- occurs
                nxt, occ = parse_atom()
                parts.append(_occurred(nxt, occ))
            else:
                break
        if len(parts) == 1:
            return parts[0]
        # merge: plain parts become SHOULD; pre-occurred boolean parts merge in
        must, should, must_not = [], [], []
        for p in parts:
            if isinstance(p, _Occurred):
                if p.occur == Occur.MUST:
                    must.append(p.query)
                elif p.occur == Occur.MUST_NOT:
                    must_not.append(p.query)
                else:
                    should.append(p.query)
            else:
                should.append(p)
        return bool_query(must=must, should=should, must_not=must_not)

    q = parse_or()
    if isinstance(q, _Occurred):
        if q.occur == Occur.MUST_NOT:
            return rewrite(bool_query(must_not=[q.query]))
        q = q.query
    return rewrite(q)


def parse_multifield(query: str, fields: List[str], analyze=None) -> Query:
    """MultiFieldQueryParser analog (queryparser/.../classic/
    MultiFieldQueryParser.java, default OR mode): parse with the classic
    grammar, then expand every UNQUALIFIED fieldable leaf into a SHOULD
    disjunction of the same leaf over each field. Explicit `field:` prefixes
    are left alone."""
    import dataclasses

    q = parse(query, analyze=analyze)

    def expand(node: Query) -> Query:
        if isinstance(node, BooleanQuery):
            return dataclasses.replace(
                node,
                clauses=tuple(
                    BooleanClause(expand(c.query), c.occur) for c in node.clauses
                ),
            )
        if isinstance(node, DisjunctionMaxQuery):
            return dataclasses.replace(
                node, disjuncts=tuple(expand(d) for d in node.disjuncts)
            )
        if isinstance(node, ConstantScoreQuery):
            return dataclasses.replace(node, query=expand(node.query))
        if (
            isinstance(
                node, (TermQuery, PhraseQuery, PrefixQuery, WildcardQuery, FuzzyQuery)
            )
            and node.field is None
        ):
            return bool_query(
                should=[dataclasses.replace(node, field=f) for f in fields]
            )
        return node

    return rewrite(expand(q))


@dataclass(frozen=True)
class _Occurred:
    query: Query
    occur: Occur


def _occurred(q: Query, occ: Optional[Occur]):
    if occ is None:
        return q
    return _Occurred(q, occ)


def _point_range_from_term_range(tr: TermRangeQuery, fname: str, typ) -> "PointRangeQuery":
    """PointsConfig conversion (flexible/standard/processors/
    PointQueryNodeProcessor.java): numeric bounds; exclusive ends step
    inward by 1 (int) or one ulp (float)."""
    import math

    def conv(v, is_lower):
        if v is None:
            return None
        x = int(v) if typ is int else float(v)
        inclusive = tr.include_lower if is_lower else tr.include_upper
        if not inclusive:
            if typ is int:
                x = x + 1 if is_lower else x - 1
            else:
                x = math.nextafter(x, math.inf if is_lower else -math.inf)
        return x

    return PointRangeQuery(
        boost=tr.boost,
        field_col=fname,
        lower=conv(tr.lower, True),
        upper=conv(tr.upper, False),
    )


def standard_parse(query: str, points_config=None, analyze=None) -> Query:
    """StandardQueryParser (queryparser/flexible/standard/
    StandardQueryParser.java): the classic grammar with PointsConfig —
    ranges on configured numeric fields parse to point-range queries
    instead of term ranges. The flexible framework's node/processor
    pipeline is an implementation detail; its user-visible syntax is the
    classic grammar, so this delegates to :func:`parse` with the points
    hook."""
    return parse(query, analyze=analyze, points_config=points_config)


def _with_field(q: Query, fname: str) -> Query:
    """Attach a field name to a fieldable leaf (classic `field:` prefix)."""
    import dataclasses

    if isinstance(q, (TermQuery, PhraseQuery, PrefixQuery, WildcardQuery, FuzzyQuery)):
        return dataclasses.replace(q, field=fname)
    return q  # range/other: field-agnostic in this engine (documented)


def _with_boost(q: Query, boost: float) -> Query:
    import dataclasses

    return dataclasses.replace(q, boost=boost)


class TermAutomatonQuery:  # standalone: mutable builder, not a frozen node
    """TermAutomatonQuery (sandbox/search/TermAutomatonQuery.java): a
    token-level automaton run against each document's token stream —
    the generalization of phrase/synonym/graph queries. Build with
    ``add_transition(from, to, term)`` / ``add_any_transition(from, to)``
    (ANY consumes one arbitrary token) / ``set_accept(state)``, then
    ``finish()`` determinizes (subset construction over the alphabet of
    terms + the distinct ANY symbol, mirroring Operations.determinize
    over termID ints with anyTermID its own symbol). Matching and freq
    counting replicate TermAutomatonScorer.countMatches literally —
    including its quirks: a match can only START on a real term arc from
    state 0 (never ANY), and ANY arcs advance only across position gaps
    between query-term occurrences (:266-291). Scoring is phrase-style:
    idf sums over the automaton's indexed terms, freq = number of
    accept-state entries."""

    ANY = None  # the anyTermID symbol

    def __init__(self, boost: float = 1.0):
        self.boost = float(boost)
        self._trans: list = []  # (from, to, term-or-ANY)
        self._accepts: set = set()
        self._n_states = 1
        self.dfa: Optional[dict] = None  # (dstate, symbol) -> dstate
        self.dfa_accepts: Optional[frozenset] = None
        self.terms: Tuple[str, ...] = ()

    def create_state(self) -> int:
        self._n_states += 1
        return self._n_states - 1

    def add_transition(self, src: int, dst: int, term: str) -> None:
        if self.dfa is not None:
            raise ValueError("automaton already finished")
        self._trans.append((int(src), int(dst), str(term)))
        self._n_states = max(self._n_states, int(src) + 1, int(dst) + 1)

    def add_any_transition(self, src: int, dst: int) -> None:
        if self.dfa is not None:
            raise ValueError("automaton already finished")
        self._trans.append((int(src), int(dst), self.ANY))
        self._n_states = max(self._n_states, int(src) + 1, int(dst) + 1)

    def set_accept(self, state: int, accept: bool = True) -> None:
        if accept:
            self._accepts.add(int(state))
        else:
            self._accepts.discard(int(state))

    def finish(self) -> "TermAutomatonQuery":
        """Determinize (TermAutomatonQuery.finish -> Operations
        .determinize): subset construction; NFA state sets become DFA
        states; ANY is an ordinary alphabet symbol."""
        by_src: dict = {}
        for s, d, t in self._trans:
            by_src.setdefault(s, []).append((t, d))
        start = frozenset([0])
        states = {start: 0}
        dfa: dict = {}
        accepts = set()
        work = [start]
        if self._accepts & start:
            accepts.add(0)
        while work:
            cur = work.pop()
            cid = states[cur]
            out: dict = {}
            for s in cur:
                for t, d in by_src.get(s, []):
                    out.setdefault(t, set()).add(d)
            for t, dset in out.items():
                key = frozenset(dset)
                if key not in states:
                    states[key] = len(states)
                    work.append(key)
                    if self._accepts & key:
                        accepts.add(states[key])
                dfa[(cid, t)] = states[key]
        self.dfa = dfa
        self.dfa_accepts = frozenset(accepts)
        self.terms = tuple(
            sorted({t for _s, _d, t in self._trans if t is not None})
        )
        return self


def token_stream_to_term_automaton(
    tokens, preserve_position_increments: bool = True
) -> TermAutomatonQuery:
    """TokenStreamToTermAutomatonQuery.toQuery (sandbox/search/
    TokenStreamToTermAutomatonQuery.java): build a TermAutomatonQuery from
    a (graph) token stream given as (term, pos_inc, pos_len) triples.
    States are positions; a token spans pos -> pos + pos_len (posLength >1
    = graph synonyms like 'ny' over 'new york'); the literal term '*'
    becomes an ANY transition; holes (pos_inc > 1) raise, as in the
    reference ("cannot handle holes; to accept any term, use '*' term")
    unless ``preserve_position_increments`` is False (holes collapse)."""
    q = TermAutomatonQuery()
    pos = -1
    state = 0
    for term, pos_inc, pos_len in tokens:
        if not preserve_position_increments and pos_inc > 1:
            pos_inc = 1
        if pos_inc > 1:
            raise ValueError(
                "cannot handle holes; to accept any term, use '*' term"
            )
        if pos_inc > 0:
            pos += pos_inc
        end_pos = pos + int(pos_len)
        while state < end_pos:
            state = q.create_state()
        if term == "*":
            q.add_any_transition(pos, end_pos)
        else:
            q.add_transition(pos, end_pos, term)
    q.set_accept(state)
    return q.finish()


@dataclass(frozen=True)
class FunctionRangeQuery(Query):
    """FunctionRangeQuery (queries/function/FunctionRangeQuery.java):
    match docs whose FUNCTION value — a Spark SQL expression over the
    docs columns, the ValueSource role — lies inside [lower, upper]
    (inclusive per the flags); score = the function value itself
    (ValueSourceScorer.java:88-96; NaN never matches a range in Java
    float comparison, mirrored with an explicit isnan guard because
    Catalyst orders NaN above all doubles)."""

    value_expr: str = ""
    lower: Optional[float] = None
    upper: Optional[float] = None
    include_lower: bool = True
    include_upper: bool = True
