"""Seeded query pool, the stratified Zipf stream over it, and the expected
top-10 of every pool query from the brute-force oracle.

The pool is derived from the generated corpus text only (its top
vocabulary and word pairs that really occur), so every query matches.
The engine sees the queries, never the corpus-side bookkeeping.
"""

from __future__ import annotations

import math
from collections import Counter
from typing import Dict, List, Sequence, Tuple

import numpy as np

from oracle import BruteForceIndex

from lucene_spark.query import (
    BlendedTermQuery,
    DisjunctionMaxQuery,
    PhraseQuery,
    PrefixQuery,
    Query,
    SynonymQuery,
    TermQuery,
    bool_query,
)

PER_SHAPE = 30  # pool queries per shape
TOP_VOCAB = 60  # terms drawn from the most frequent ones
K = 10

# shapes the hot driver tier serves; the flat ones are also the shapes the
# WAND tiers accept (prune._flat_term_clauses)
HOT_SHAPES = ("term", "or2", "or3", "and2", "dismax", "synonym", "blended",
              "phrase", "sloppy", "sloppy_rpts")
FLAT_SHAPES = ("term", "or2", "or3", "and2")
PHRASE_SHAPES = ("phrase", "sloppy", "sloppy_rpts")
SPARK_SHAPES = HOT_SHAPES + ("filter",)


def _t(term: str) -> TermQuery:
    return TermQuery(term=term)


def build_pool(oracle, seed: int) -> Dict[str, List[Query]]:
    """PER_SHAPE queries per shape, most popular first (stream rank order)."""
    rng = np.random.default_rng(seed)
    vocab = [t for t, _ in oracle._df.most_common() if not t.isdigit()][:TOP_VOCAB]

    def pick(n: int) -> List[str]:
        return [vocab[i] for i in rng.choice(len(vocab), size=n, replace=False)]

    def real_windows(width: int) -> List[Tuple[str, ...]]:
        """Token windows that occur in the corpus, built from top terms."""
        top = set(vocab)
        seen, out = set(), []
        for d in rng.permutation(oracle.doc_count):
            toks = sorted(
                ((p, t) for t, ps in oracle.positions[d].items() for p in ps)
            )
            words = [t for _, t in toks]
            for i in range(0, len(words) - width + 1, 7):
                w = tuple(words[i:i + width])
                if all(x in top for x in w) and len(set(w)) == width and w not in seen:
                    seen.add(w)
                    out.append(w)
                    break
            if len(out) >= PER_SHAPE:
                return out
        return out

    pool: Dict[str, List[Query]] = {s: [] for s in SPARK_SHAPES}
    for i in range(PER_SHAPE):
        a, b, c = pick(3)
        pool["term"].append(_t(vocab[i % len(vocab)]))
        pool["or2"].append(bool_query(should=[_t(a), _t(b)]))
        pool["or3"].append(bool_query(should=[_t(a), _t(b), _t(c)]))
        pool["and2"].append(bool_query(must=[_t(b), _t(c)]))
        pool["dismax"].append(
            DisjunctionMaxQuery(disjuncts=(_t(a), _t(c)), tie_breaker=0.1))
        pool["synonym"].append(SynonymQuery(terms=(a, b)))
        pool["blended"].append(
            BlendedTermQuery(terms=(b, c), boosts=(1.0, 2.0), tie_breaker=0.1))
        pool["sloppy_rpts"].append(PhraseQuery(terms=(a, b, a), slop=4))
        # one shared filter, as a tenant or language filter would be: the
        # query cache can only help a filter that recurs
        pool["filter"].append(
            bool_query(must=[_t(c)], filter=[PrefixQuery(prefix=vocab[0][:2])]))
    pool["phrase"] = [PhraseQuery(terms=w) for w in real_windows(2)]
    pool["sloppy"] = [PhraseQuery(terms=w, slop=3) for w in real_windows(3)]
    # head queries use head terms: rank each shape's queries by the postings
    # they touch, so the most popular query of a shape is about as costly
    # under every seed
    for s, qs in pool.items():
        qs.sort(key=lambda q: (-sum(oracle._df[t] for t in terms_of(q)), repr(q)))
    return pool


def terms_of(q: Query) -> List[str]:
    """The terms a query scores (a filter's prefix is not a term)."""
    if isinstance(q, TermQuery):
        return [q.term]
    if hasattr(q, "clauses"):
        return [t for c in q.clauses for t in terms_of(c.query)]
    if hasattr(q, "disjuncts"):
        return [t for d in q.disjuncts for t in terms_of(d)]
    return list(getattr(q, "terms", ()))


def stream(pool: Dict[str, List[Query]], shapes: Sequence[str], seed: int):
    """Endless closed-loop stream: shapes in a fixed rotation (so every run
    sees the same shape mix), the query within a shape drawn Zipf(1.1) over
    that shape's pool. Yields (shape, query)."""
    rng = np.random.default_rng(seed + 7919)
    probs = {}
    for s in shapes:
        w = 1.0 / np.arange(1, len(pool[s]) + 1) ** 1.1
        probs[s] = w / w.sum()
    while True:
        for s in shapes:
            yield s, pool[s][int(rng.choice(len(pool[s]), p=probs[s]))]


# ---------------------------------------------------------------- oracle


class Oracle(BruteForceIndex):
    """``tests/oracle.BruteForceIndex`` on the code chain, with document
    frequencies counted once and per-term scores memoized: the same float32
    arithmetic, without rescanning every document per call."""

    def __init__(self, contents: Sequence[str]) -> None:
        super().__init__(contents, chain="code")
        self._df = Counter()
        for tf in self.tfs:
            self._df.update(tf.keys())
        self._term_scores: Dict[Tuple[str, float], Dict[int, np.float32]] = {}

    def doc_freq(self, term: str) -> int:
        return self._df[term]

    def idf(self, term: str) -> np.float32:
        n = self._df[term]
        return _f32(math.log(1.0 + (self.doc_count - n + 0.5) / (n + 0.5)))

    def score_term(self, term: str, boost: float = 1.0) -> Dict[int, np.float32]:
        key = (term, boost)
        if key not in self._term_scores:
            self._term_scores[key] = super().score_term(term, boost)
        return self._term_scores[key]


def _f32(x) -> np.float32:
    return np.float32(x)


def _term_weight(oracle, freq_by_doc: Dict[int, float], idf_terms, boost=1.0):
    w = _f32(boost) * _f32(sum(float(oracle.idf(t)) for t in idf_terms))
    out = {}
    for d, freq in freq_by_doc.items():
        if freq:
            inv = oracle.cache[oracle.norms[d]]
            out[d] = w - w / (_f32(1.0) + _f32(freq) * inv)
    return out


def _synonym(oracle, terms) -> Dict[int, np.float32]:
    n = max(oracle.doc_freq(t) for t in terms)
    w = _f32(math.log(1.0 + (oracle.doc_count - n + 0.5) / (n + 0.5)))
    out = {}
    for d, tf in enumerate(oracle.tfs):
        freq = sum(tf.get(t, 0) for t in terms)
        if freq:
            inv = oracle.cache[oracle.norms[d]]
            out[d] = _f32(w - w / (_f32(1.0) + _f32(freq) * inv))
    return out


def _max_tie(per_term: List[Dict[int, np.float32]], tie: float) -> Dict[int, np.float32]:
    out = {}
    for d in set().union(*per_term):
        vals = [float(sc[d]) for sc in per_term if d in sc]
        mx = max(vals)
        out[d] = _f32(mx + tie * (sum(vals) - mx))
    return out


def _blended(oracle, terms, boosts, tie) -> Dict[int, np.float32]:
    dfa = max(oracle.doc_freq(t) for t in terms)
    idf = _f32(math.log(1.0 + (oracle.doc_count - dfa + 0.5) / (dfa + 0.5)))
    per_term = []
    for t, b in zip(terms, boosts):
        w = _f32(b) * idf
        per_term.append({
            d: w - w / (_f32(1.0) + _f32(tf[t]) * oracle.cache[oracle.norms[d]])
            for d, tf in enumerate(oracle.tfs) if t in tf
        })
    return _max_tie(per_term, tie)


def _sloppy_repeats(oracle, terms, slop) -> Dict[int, np.float32]:
    """Repeated-term sloppy phrases are outside BruteForceIndex; the
    reference is the literal per-doc SloppyPhraseMatcher walk that the
    engine's batch kernel is property-tested against."""
    from lucene_spark import matchers

    uniq = list(dict.fromkeys(terms))
    cand = [d for d in range(oracle.doc_count)
            if all(t in oracle.positions[d] for t in uniq)]
    pos_by_term = {t: [oracle.positions[d][t] for d in cand] for t in uniq}
    freqs = matchers._sloppy_phrase_freqs_rpts_literal(pos_by_term, terms, slop, len(cand))
    return _term_weight(oracle, {d: f for d, f in zip(cand, freqs)}, terms)


def _prefix_docs(oracle, prefix: str) -> set:
    return {d for d, tf in enumerate(oracle.tfs) if any(t.startswith(prefix) for t in tf)}


def expected(oracle, shape: str, q: Query, deleted=frozenset()) -> List[Tuple[int, float]]:
    """Top-K [(doc_id, float32 score)] by the oracle; deleted docs never
    match but keep counting in the statistics (Lucene delete semantics)."""
    if shape == "term":
        scores = oracle.score_term(q.term)
    elif shape in ("or2", "or3"):
        scores = oracle.score_bool(should=[c.query.term for c in q.clauses])
    elif shape == "and2":
        scores = oracle.score_bool(must=[c.query.term for c in q.clauses])
    elif shape == "dismax":
        scores = _max_tie([oracle.score_term(d.term) for d in q.disjuncts], q.tie_breaker)
    elif shape == "synonym":
        scores = _synonym(oracle, q.terms)
    elif shape == "blended":
        scores = _blended(oracle, q.terms, q.boosts, q.tie_breaker)
    elif shape == "sloppy_rpts":
        scores = _sloppy_repeats(oracle, q.terms, q.slop)
    elif shape in ("phrase", "sloppy"):
        scores = oracle.score_phrase(list(q.terms), slop=q.slop)
    elif shape == "filter":
        must = [c.query for c in q.clauses if c.query.__class__ is TermQuery]
        pref = [c.query for c in q.clauses if isinstance(c.query, PrefixQuery)]
        keep = _prefix_docs(oracle, pref[0].prefix)
        scores = {d: s for d, s in oracle.score_term(must[0].term).items() if d in keep}
    else:
        raise ValueError(f"unknown shape {shape!r}")
    scores = {d: s for d, s in scores.items() if d not in deleted}
    return [(d, _f32(s)) for d, s in oracle.topk(scores, K)]


def same(got: Sequence[Tuple[int, float]], want: Sequence[Tuple[int, float]]) -> bool:
    """Rank- and float32-bit-identical (ties were broken by ascending doc_id
    on both sides)."""
    return [(int(d), _f32(s)) for d, s in got] == [(int(d), _f32(s)) for d, s in want]
