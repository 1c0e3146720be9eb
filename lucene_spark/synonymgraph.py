"""Query-time multi-word synonym expansion (SynonymGraphFilter analog).

Mirrors the reference's analyzer-driven graph query construction:

- ``SynonymMap`` / ``parse_solr_synonyms`` re-express the Solr synonym rule
  format (analysis/common/src/java/org/apache/lucene/analysis/synonym/
  SolrSynonymParser.java): ``a, b, c`` expand lists and ``in1, in2 => out``
  replacement rules, each side analyzed word-by-word, duplicate outputs
  removed (dedup=true default).
- ``expand_graph`` applies SynonymGraphFilter's matching semantics
  (analysis/common/src/java/org/apache/lucene/analysis/synonym/
  SynonymGraphFilter.java: greedy longest match via the SynonymMap FST,
  non-overlapping — scanning resumes after each match) and returns the
  token graph as a list of segments, each holding the alternative token
  paths between two articulation points. For a non-overlapping greedy
  matcher every match IS bounded by articulation points, so the segment
  list is exactly GraphTokenStreamFiniteStrings' articulation
  decomposition (util/graph/GraphTokenStreamFiniteStrings.java).
- ``create_field_query`` / ``create_boolean_query`` / ``create_phrase_query``
  re-express QueryBuilder.createFieldQuery's decision tree over that graph
  (util/QueryBuilder.java:290-412 phase logic, :505-558 analyzeGraphBoolean,
  :565-583 analyzeGraphPhrase), pinned by the reference's TestQueryBuilder
  graph expectations (core/src/test/.../TestQueryBuilder.java:143-300):

  * one position, one term                    -> TermQuery
  * one position, parallel single terms       -> SynonymQuery (blended stats)
  * graph (any multi-token side path), quoted -> SHOULD-disjunction of every
    full path as a PhraseQuery with the given slop (single-token path ->
    TermQuery); TooManyClauses above MAX_CLAUSE_COUNT paths
  * graph, unquoted -> per-segment clauses under ``operator``, each
    multi-path segment a SHOULD-disjunction of per-path queries where a
    multi-token path is a MUST-conjunction of terms, or a slop-0
    PhraseQuery when auto_phrase=True
    (setAutoGenerateMultiTermSynonymsPhraseQuery; reference default false)
    — always wrapped in an outer BooleanQuery, as the reference does
  * no graph, quoted, several positions -> PhraseQuery, or MultiPhraseQuery
    when positions carry parallel terms (consecutive slots: the repo's
    MultiPhraseQuery has no position holes, same envelope as elsewhere)
  * no graph, unquoted, several positions -> BooleanQuery of per-position
    TermQuery/SynonymQuery under ``operator`` (analyzeMultiBoolean)

Everything here is driver-side query planning (micro-seconds, zero Spark
jobs); the produced AST executes on the existing distributed operators.
"""

from __future__ import annotations

from itertools import product
from typing import Callable, Dict, List, Optional, Sequence, Tuple

from .query import (
    BooleanClause,
    BooleanQuery,
    MultiPhraseQuery,
    Occur,
    PhraseQuery,
    Query,
    SynonymQuery,
    TermQuery,
)

Path = Tuple[str, ...]


class SynonymMap:
    """Analyzed multi-word synonym rules: input token sequence -> the set
    of alternative output token sequences (SynonymMap.Builder analog; with
    dedup, insertion order preserved as the reference's ords are)."""

    def __init__(self) -> None:
        self._rules: Dict[Path, List[Path]] = {}
        self._max_len = 0

    def add(self, inp: Sequence[str], out: Sequence[str]) -> None:
        key = tuple(inp)
        if not key or not tuple(out):
            raise ValueError("empty synonym input/output")
        outs = self._rules.setdefault(key, [])
        o = tuple(out)
        if o not in outs:  # dedup=true default
            outs.append(o)
        self._max_len = max(self._max_len, len(key))

    def lookup(self, key: Path) -> Optional[List[Path]]:
        return self._rules.get(key)

    @property
    def max_input_len(self) -> int:
        return self._max_len

    def __len__(self) -> int:
        return len(self._rules)


def _analyze_side(side: str, analyze: Callable[[str], List[str]]) -> Path:
    # SolrSynonymParser analyzes each whitespace-separated word through the
    # chain; a word the chain drops entirely (stopword) is an error there —
    # here it is simply skipped, keeping rule authoring forgiving.
    toks: List[str] = []
    for word in side.split():
        toks.extend(analyze(word))
    return tuple(toks)


def parse_solr_synonyms(
    text: str,
    analyze: Callable[[str], List[str]],
    expand: bool = True,
) -> SynonymMap:
    """Solr rule format (SolrSynonymParser.java): one rule per line,
    ``#`` comments; ``i1, i2 => o1, o2`` maps every input to every output
    (inputs consumed); a plain list maps every entry to every entry when
    ``expand`` (originals kept) else every entry to the first."""
    m = SynonymMap()
    for lineno, raw in enumerate(text.splitlines(), 1):
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        if "=>" in line:
            lhs, rhs = line.split("=>", 1)
            inputs = [_analyze_side(s, analyze) for s in lhs.split(",")]
            outputs = [_analyze_side(s, analyze) for s in rhs.split(",")]
            inputs = [i for i in inputs if i]
            outputs = [o for o in outputs if o]
            if not inputs or not outputs:
                raise ValueError(f"line {lineno}: empty side in rule: {raw!r}")
            for i in inputs:
                for o in outputs:
                    m.add(i, o)
        else:
            entries = [_analyze_side(s, analyze) for s in line.split(",")]
            entries = [e for e in entries if e]
            if len(entries) < 2:
                raise ValueError(f"line {lineno}: need >=2 entries: {raw!r}")
            if expand:
                for i in entries:
                    for o in entries:
                        m.add(i, o)
            else:
                for i in entries:
                    m.add(i, entries[0])
    return m


class Segment:
    """Tokens between two articulation points of the query token graph:
    ``paths`` are the alternative routes, ``input_span`` the number of
    source-token positions the segment consumed."""

    __slots__ = ("paths", "input_span")

    def __init__(self, paths: List[Path], input_span: int) -> None:
        self.paths = paths
        self.input_span = input_span

    @property
    def is_graph(self) -> bool:
        # posLength > 1 appears iff alternatives disagree with a flat
        # single-position token: a side path longer than one token, or any
        # path stretched over a multi-token input match.
        return len(self.paths) > 1 and (
            self.input_span > 1 or any(len(p) > 1 for p in self.paths)
        )


def expand_graph(tokens: Sequence[str], synonyms: Optional[SynonymMap]) -> List[Segment]:
    """SynonymGraphFilter matching: greedy longest match at each position,
    non-overlapping (SynonymGraphFilter.java parse(): after a match the
    scan resumes past the matched input). Unmatched tokens become
    single-path segments; a single-path replacement (``a b => c`` with no
    original kept) collapses to a plain segment — the same query the
    reference builds for it, since a no-side-path articulation interval
    yields its terms directly (QueryBuilder.java:539-556)."""
    segs: List[Segment] = []
    i, n = 0, len(tokens)
    max_len = synonyms.max_input_len if synonyms else 0
    while i < n:
        match: Optional[Tuple[int, List[Path]]] = None
        if synonyms is not None:
            for length in range(min(max_len, n - i), 0, -1):
                outs = synonyms.lookup(tuple(tokens[i : i + length]))
                if outs is not None:
                    match = (length, outs)
                    break
        if match is None:
            segs.append(Segment([(tokens[i],)], 1))
            i += 1
        else:
            length, outs = match
            segs.append(Segment(list(outs), length))
            i += length
    # a single-path multi-token segment is not a branch point: flatten it
    # into plain positions so phrase/boolean construction sees real tokens
    flat: List[Segment] = []
    for s in segs:
        if len(s.paths) == 1 and len(s.paths[0]) > 1:
            flat.extend(Segment([(t,)], 1) for t in s.paths[0])
        else:
            flat.append(s)
    return flat


def _term_or_synonym(paths: List[Path], field: Optional[str]) -> Query:
    if len(paths) == 1:
        return TermQuery(term=paths[0][0], field=field)
    return SynonymQuery(terms=tuple(p[0] for p in paths))


def _path_query(
    path: Path, field: Optional[str], auto_phrase: bool
) -> Query:
    """QueryBuilder.java:517-528: each side path re-enters createFieldQuery
    with MUST and quoted=autoGenerateMultiTermSynonymsPhraseQuery, slop 0."""
    if len(path) == 1:
        return TermQuery(term=path[0], field=field)
    if auto_phrase:
        return PhraseQuery(terms=path, field=field)
    return BooleanQuery(
        clauses=tuple(
            BooleanClause(TermQuery(term=t, field=field), Occur.MUST) for t in path
        )
    )


def _graph_synonym_query(
    seg: Segment, field: Optional[str], auto_phrase: bool
) -> Query:
    """newGraphSynonymQuery (QueryBuilder.java:617-627): SHOULD-disjunction
    of the per-path queries, unwrapped when only one path survives."""
    subs = [_path_query(p, field, auto_phrase) for p in seg.paths]
    if len(subs) == 1:
        return subs[0]
    return BooleanQuery(
        clauses=tuple(BooleanClause(q, Occur.SHOULD) for q in subs)
    )


def create_field_query(
    text: str,
    analyze: Callable[[str], List[str]],
    synonyms: Optional[SynonymMap] = None,
    operator: Occur = Occur.SHOULD,
    quoted: bool = False,
    slop: int = 0,
    auto_phrase: bool = False,
    field: Optional[str] = None,
) -> Optional[Query]:
    """QueryBuilder.createFieldQuery over the expanded token graph."""
    if operator not in (Occur.SHOULD, Occur.MUST):
        raise ValueError("operator must be SHOULD or MUST")
    segs = expand_graph(analyze(text), synonyms)
    if not segs:
        return None
    num_positions = len(segs)
    if num_positions == 1 and len(segs[0].paths) == 1 and len(segs[0].paths[0]) == 1:
        return TermQuery(term=segs[0].paths[0][0], field=field)
    if any(s.is_graph for s in segs):
        if quoted:
            return _graph_phrase(segs, slop, field)
        clauses = []
        for s in segs:
            if s.is_graph:
                q: Query = _graph_synonym_query(s, field, auto_phrase)
            else:
                q = _term_or_synonym(s.paths, field)
            clauses.append(BooleanClause(q, operator))
        return BooleanQuery(clauses=tuple(clauses))
    has_synonyms = any(len(s.paths) > 1 for s in segs)
    if quoted and num_positions > 1:
        if has_synonyms:
            return MultiPhraseQuery(
                slots=tuple(tuple(p[0] for p in s.paths) for s in segs), slop=slop
            )
        return PhraseQuery(
            terms=tuple(s.paths[0][0] for s in segs), slop=slop, field=field
        )
    if num_positions == 1:
        return _term_or_synonym(segs[0].paths, field)
    return BooleanQuery(
        clauses=tuple(
            BooleanClause(_term_or_synonym(s.paths, field), operator) for s in segs
        )
    )


def _graph_phrase(segs: List[Segment], slop: int, field: Optional[str]) -> Query:
    """analyzeGraphPhrase (QueryBuilder.java:565-583): every full finite
    string through the graph becomes a phrase query with the requested
    slop, combined as SHOULD; guarded by the boolean clause cap like the
    reference's TooManyClauses on path explosion."""
    from .search import MAX_CLAUSE_COUNT, TooManyClauses

    n_paths = 1
    for s in segs:
        n_paths *= len(s.paths)
        if n_paths > MAX_CLAUSE_COUNT:
            raise TooManyClauses(
                f"graph phrase expands to > {MAX_CLAUSE_COUNT} paths"
            )
    queries: List[Query] = []
    for combo in product(*(s.paths for s in segs)):
        terms: Tuple[str, ...] = tuple(t for path in combo for t in path)
        if len(terms) == 1:
            queries.append(TermQuery(term=terms[0], field=field))
        else:
            queries.append(PhraseQuery(terms=terms, slop=slop, field=field))
    if len(queries) == 1:
        return queries[0]
    return BooleanQuery(
        clauses=tuple(BooleanClause(q, Occur.SHOULD) for q in queries)
    )


def segments_to_token_stream(
    segs: List[Segment],
) -> List[Tuple[str, int, int]]:
    """Render the expanded graph as (term, pos_inc, pos_len) triples — the
    geometry SynonymGraphFilter emits (side paths get their own inserted
    positions so distinct paths never share an intermediate state, and the
    tokens come out ordered by start position). Feed the result to
    ``query.token_stream_to_term_automaton`` to get the TermAutomatonQuery
    for a synonym-expanded query (sandbox/search/
    TokenStreamToTermAutomatonQuery.java consumes exactly these graphs)."""
    edges: List[Tuple[int, int, str]] = []  # (start, end, term)
    base = 0
    for s in segs:
        intermediates = sum(max(0, len(p) - 1) for p in s.paths)
        end = base + 1 + intermediates
        nxt = base + 1  # first free inserted position
        for p in s.paths:
            prev = base
            for j, term in enumerate(p):
                last = j == len(p) - 1
                to = end if last else nxt
                edges.append((prev, to, term))
                if not last:
                    prev = nxt
                    nxt += 1
        base = end
    edges.sort(key=lambda e: (e[0], e[1]))
    out: List[Tuple[str, int, int]] = []
    prev_start = -1  # first token gets pos_inc = start + 1 (from pos -1)
    for start, end, term in edges:
        out.append((term, start - prev_start, end - start))
        prev_start = start
    return out


def create_boolean_query(
    text: str,
    analyze: Callable[[str], List[str]],
    synonyms: Optional[SynonymMap] = None,
    operator: Occur = Occur.SHOULD,
    auto_phrase: bool = False,
    field: Optional[str] = None,
) -> Optional[Query]:
    """QueryBuilder.createBooleanQuery with graph-aware analysis."""
    return create_field_query(
        text, analyze, synonyms, operator=operator, quoted=False,
        auto_phrase=auto_phrase, field=field,
    )


def create_phrase_query(
    text: str,
    analyze: Callable[[str], List[str]],
    synonyms: Optional[SynonymMap] = None,
    slop: int = 0,
    field: Optional[str] = None,
) -> Optional[Query]:
    """QueryBuilder.createPhraseQuery with graph-aware analysis."""
    return create_field_query(
        text, analyze, synonyms, quoted=True, slop=slop, field=field
    )
