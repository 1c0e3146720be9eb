"""Block-max (WAND-style) score pruning — the set-at-a-time re-expression of
the reference's impact machinery (SURVEY.md §4.3):

- per-block upper bound ub(t, block) = max score over the block's competitive
  impacts — MaxScoreCache.computeMaxScore (search/MaxScoreCache.java:58-64),
  computed by one kernel (_block_bound_fn) for the block test and the
  per-term metadata alike
- θ = a valid lower bound on the k-th best score — plays
  setMinCompetitiveScore (search/TopScoreDocCollector.java:320-339). It
  comes from the previous exact k-th score of the same query (θ cache),
  else from the top achieved block scores of one term (no job), else from
  exactly scoring the most promising block per term (the probe)
- prune rule: keep block b of term t iff
      ub(t, b) + Σ_{t' ≠ t} global_max(t') ≥ θ
  (the WAND condition, search/WANDScorer.java:30-53); every block containing
  a doc whose exact score ≥ θ necessarily survives for every contributing
  term, so all true top-k docs are scored exactly; pruned-away docs can only
  be under-scored and their exact score is < θ ≤ k-th — soundness does not
  depend on θ quality, only speed does.

The per-term metadata (global max, top achieved scores, probe block key)
is a few hundred bytes per term, fetched in one job and cached on the
driver; the blocks stay distributed and the WAND test runs inline in the
decode scanner, before any posting is decoded.

The tier choice is Searcher.plan's: it rewrites the query once and runs
the one hot → WAND → _eval fall-through that search, top_docs and
search_after share. This module holds the shape table every tier reads
(_flat_term_clauses: term, flat OR / AND / mixed bool, dismax, blended,
synonym and phrase, repeated terms included, field-qualified terms never;
every other unboosted MUST / SHOULD bool and every dismax is a shape too,
its non-term clauses held as ``others``, which only the Spark tier
serves); Searcher._shape_keys maps a shape to its per-term scorers for all
three tiers, and WAND's scan is the Spark tier's one Boolean combine
(Searcher._eval_flat) with the block test in its scanner. WAND serves
single terms, flat OR-of-terms (WANDScorer case) and flat AND-of-terms
(BlockMaxConjunctionScorer case, Boolean2ScorerSupplier.java:202-207),
each term once; the planner does not call it for the other shapes.
Equivalence with the unpruned path is asserted by tests on every query
shape (SearchEquivalenceTestBase style).
"""

from __future__ import annotations

import os
from typing import Dict, Iterator, NamedTuple, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .bm25 import BM25Scorer
from .query import (
    BlendedTermQuery,
    BooleanQuery,
    DisjunctionMaxQuery,
    Occur,
    PhraseQuery,
    Query,
    SynonymQuery,
    TermQuery,
)


class Shape(NamedTuple):
    """A term-level query, reduced to its plain term clauses, its other
    clauses and the way their per-clause scores combine (see
    _flat_term_clauses)."""

    kind: str  # or | and | bool | dismax | blended | synonym | phrase
    terms: Tuple[str, ...]  # every occurrence, in query order (MUST first)
    boosts: Tuple[float, ...]  # each term's own boost
    query: Query
    tie: Optional[float] = None  # max + tie × (sum − max); None = plain sum
    boost: float = 1.0  # the outer boost, applied after the combine
    must: int = 0  # the leading ``must`` terms are required clauses
    msm: int = 0  # minimum_should_match over the other clauses
    # the clauses that are not plain terms, (query, required), in clause order
    others: Tuple[Tuple[Query, bool], ...] = ()


def _plain_term(q: Query) -> bool:
    return isinstance(q, TermQuery) and q.field is None


def _flat_term_clauses(q: Query) -> Optional[Shape]:
    """The one table of term-level queries: each shape the hot tier, WAND
    and the Spark tier's combine (Searcher._eval_flat) serve is recognized
    here, once, as term clauses plus a combine — ``or`` / ``and`` /
    ``bool`` (sum over the docs that match every MUST clause and
    minimum_should_match SHOULD clauses; a single term is a one-clause
    ``or``), ``dismax`` and ``blended`` (max + tie × (sum − max), or sum for
    a boolean-rewrite blend, then the outer boost), ``synonym`` (tf summed
    per doc before it scores) and ``phrase`` (positional). A term may
    repeat. Every unboosted BooleanQuery of MUST / SHOULD clauses and every
    non-empty DisjunctionMaxQuery has a shape: a clause that is not a plain
    term is one of its ``others`` (evaluated on its own, kind ``bool`` or
    ``dismax``; the fast tiers decline it). A field-qualified term is never
    a plain term: it routes to its field's index (MultiFieldSearcher).
    None = any other query."""
    if isinstance(q, TermQuery):
        return Shape("or", (q.term,), (q.boost,), q) if _plain_term(q) else None
    if isinstance(q, BooleanQuery):
        must = [c.query for c in q.clauses if c.occur == Occur.MUST]
        should = [c.query for c in q.clauses if c.occur == Occur.SHOULD]
        tqs, msm = must + should, q.minimum_should_match
        if q.boost != 1.0 or not tqs or len(tqs) < len(q.clauses):
            return None
        if all(_plain_term(tq) for tq in tqs):
            kind = ("and" if not should and msm == 0 else
                    "or" if not must and msm <= 1 else "bool")
            return Shape(kind, tuple(tq.term for tq in tqs),
                         tuple(tq.boost for tq in tqs), q, must=len(must), msm=msm)
        tqs = [tq for tq in tqs if _plain_term(tq)]
        return Shape("bool", tuple(tq.term for tq in tqs), tuple(tq.boost for tq in tqs),
                     q, must=sum(_plain_term(tq) for tq in must), msm=msm,
                     others=tuple((c.query, c.occur == Occur.MUST) for c in q.clauses
                                  if not _plain_term(c.query)))
    if isinstance(q, DisjunctionMaxQuery):
        if not q.disjuncts:
            return None
        tqs = [d for d in q.disjuncts if _plain_term(d)]
        others = (() if len(tqs) == len(q.disjuncts) else
                  tuple((d, False) for d in q.disjuncts if not _plain_term(d)))
        return Shape("dismax", tuple(d.term for d in tqs), tuple(d.boost for d in tqs),
                     q, float(q.tie_breaker), float(q.boost), others=others)
    if isinstance(q, BlendedTermQuery):
        boosts = tuple(q.boosts) or (1.0,) * len(q.terms)
        if len(boosts) != len(q.terms):
            raise ValueError("boosts must match terms")
        if q.rewrite not in ("dismax", "boolean"):
            raise ValueError(f"unknown rewrite {q.rewrite!r}")
        tie = float(q.tie_breaker) if q.rewrite == "dismax" else None
        return Shape("blended", tuple(q.terms), boosts, q, tie, float(q.boost))
    if isinstance(q, SynonymQuery):
        terms = tuple(dict.fromkeys(q.terms))
        return Shape("synonym", terms, (q.boost,) * len(terms), q)
    if isinstance(q, PhraseQuery) and len(q.terms) > 1:
        return Shape("phrase", tuple(q.terms), (q.boost,) * len(q.terms), q)
    return None


def _wand_declines(shape: Optional[Shape]) -> Optional[str]:
    """Why WAND cannot prune ``shape``, or None: it serves ``or`` and
    ``and`` only, each term once (its per-term bounds and metadata are
    keyed by term)."""
    if shape is None or shape.kind not in ("or", "and"):
        return "shape"
    return "repeated term" if len(set(shape.terms)) < len(shape.terms) else None


_MIN_PRUNABLE = 100_000


def try_pruned_topk_rows(searcher, q: Query, k: int):
    """Top-k [(doc_id, score)] via block-max pruning of an ``or`` / ``and``
    shape, or None when WAND does not serve the query: any other shape, or
    too few postings to prune (the planner then falls back to _eval). An
    empty LIST means handled-and-no-hits."""
    shape = _flat_term_clauses(q)
    if _wand_declines(shape):
        return None
    stats = searcher.term_stats(shape.terms)
    if not stats or any(t not in stats for t in shape.terms[:shape.must]):
        return []
    # pruning pays only when there is enough postings volume to skip; below
    # ~64 blocks per term the extra theta/bounds jobs cost more than decoding
    # everything (ImpactsDISI has the same "too small to bother" shape)
    min_prunable = int(os.environ.get("LUCENE_SPARK_MIN_PRUNABLE", _MIN_PRUNABLE))
    if sum(s.doc_freq for s in stats.values()) < min_prunable:
        return None
    scorers = {t: searcher._scorer(key) for t, key in searcher._shape_keys(shape, stats)}
    return _topk_wand(searcher, shape, scorers, k)


_DIST_ACH_TOPK = 128          # achieved scores kept per term in the meta cache
_DIST_META_CACHE_MAX = 65536  # cached per-(term, boost) metadata entries
_THETA_CACHE_MAX = 512        # cached per-query exact k-th scores per searcher


def _dist_term_meta(searcher, scorers: Dict[str, BM25Scorer], boosts) -> dict:
    """Per-term WAND metadata — gmax, the top achieved block scores, the
    probe block key, the block count — fetched in ONE job for all missing
    terms and cached on the driver. A few hundred bytes per term regardless
    of index size: the blocks stay distributed but the per-term summary is
    driver-resident, exactly like Lucene's memory-resident term dictionary
    fronting on-disk postings."""
    cache = searcher._dist_meta_cache
    missing = [t for t in scorers if (t, boosts[t]) not in cache]
    if missing:
        parts: Dict[str, list] = {}
        for r in _block_summaries(searcher, {t: scorers[t] for t in missing}).collect():
            parts.setdefault(r["term"], []).append(r)
        for t, rs in parts.items():
            best = max(rs, key=lambda r: (r["gmax"], -r["segment_id"], -r["block_id"]))
            if len(cache) >= _DIST_META_CACHE_MAX:
                cache.pop(next(iter(cache)))
            cache[(t, boosts[t])] = {
                "gmax": float(best["gmax"]),
                "nblocks": sum(int(r["nblocks"]) for r in rs),
                "top_ach": sorted(
                    (float(a) for r in rs for a in r["top_ach"]), reverse=True
                )[:_DIST_ACH_TOPK],
                "probe": (int(best["segment_id"]), int(best["block_id"])),
            }
        for t in missing:  # terms with no blocks (defensive)
            cache.setdefault(
                (t, boosts[t]),
                {"gmax": 0.0, "nblocks": 0, "top_ach": [], "probe": None},
            )
    return {t: cache[(t, boosts[t])] for t in scorers}


def _topk_wand(searcher, shape: Shape, scorers: Dict[str, BM25Scorer], k: int) -> list:
    """Block-max WAND: per-term driver metadata (one cached job) + a single
    pass of the flat evaluator whose scanner applies the WAND condition
    INLINE from the impacts riding on each postings row — bounds are read
    where the block is, never joined (the skip-data-adjacent layout of
    codecs/lucene912/Lucene912PostingsWriter). A warm repeated query is ONE
    Spark action; a cold one adds only the metadata job (plus, for
    conjunctions, the probe decode)."""
    boosts = {t: float(b) for t, b in zip(shape.terms, shape.boosts) if t in scorers}
    meta = _dist_term_meta(searcher, scorers, boosts)
    gmax = {t: meta[t]["gmax"] for t in scorers}
    sum_gmax = sum(gmax.values())
    tkey = (shape.kind, k, tuple(sorted(boosts.items())))

    # a repeated identical query reuses its previous exact k-th score
    # (scores are immutable given the index — still a valid lower bound)
    theta = searcher._theta_cache.get(tkey)
    if theta is None and shape.kind == "or" and _no_deletes(searcher):
        # impact-achieved θ: every `ach` is at most a score a real doc of the
        # block achieves, and one term's blocks cover disjoint doc ranges, so
        # its k-th best `ach` certifies k DISTINCT docs whose OR score is at
        # least that much (partial scores are non-negative). Not for
        # conjunctions (the doc may miss another required term) or with
        # deletes (the doc may be deleted).
        best = 0.0
        for m in meta.values():
            if m["nblocks"] >= k and len(m["top_ach"]) >= k:
                best = max(best, m["top_ach"][k - 1])
        if best > 0.0:
            theta = best
    if theta is None:
        theta = _probe_theta(searcher, shape, meta, k)

    rest = {t: sum_gmax - gmax[t] for t in gmax}
    keep = _wand_block_test(scorers, rest, float(theta))
    top = searcher._topk(searcher._apply_deletes(searcher._eval_flat(shape, keep=keep)), k)
    rows = [(int(r["doc_id"]), float(r["score"])) for r in top.collect()]
    if len(rows) >= k:
        # exact k-th score carries over to a repeated identical query
        # (setMinCompetitiveScore persistence across queries)
        if len(searcher._theta_cache) >= _THETA_CACHE_MAX:
            searcher._theta_cache.pop(next(iter(searcher._theta_cache)))
        searcher._theta_cache[tkey] = rows[-1][1]
    return rows


def _probe_theta(searcher, shape: Shape, meta: dict, k: int) -> float:
    """θ from exactly scoring the highest-ub block of every term: the k-th
    best aggregated score of those docs, or 0.0 when they are fewer than k.
    One job: the block keys become a LITERAL scan predicate (term isin +
    composite block-key isin) — no broadcast-exchange job, and the term
    filter still reaches the Parquet row-group stats. A key may also admit
    another term's block with the same (segment, block) id; its docs are
    scored exactly too, so every aggregate stays at most the doc's true
    score and θ stays a lower bound."""
    keys = [m["probe"] for m in meta.values() if m["probe"] is not None]
    if not keys:
        return 0.0
    composite = (
        F.col("segment_id").cast("long") * F.lit(1 << 32)
        + F.col("block_id").cast("long")
    )
    where = composite.isin(sorted({s * (1 << 32) + b for s, b in keys}))
    scored = searcher._eval_flat(shape, where=where)
    rows = searcher._topk(searcher._apply_deletes(scored), k).collect()
    return float(rows[-1]["score"]) if len(rows) >= k else 0.0


_BOUND_SLACK = 1e-6  # of the term weight; see _block_bound_fn


def _block_bound_fn(scorers: Dict[str, BM25Scorer]):
    """The one block-bound kernel, shared by the WAND block test and the
    per-term metadata: ``fn(pdf, achieved=False)`` maps a batch of postings
    block rows (``term``, ``imp_freqs``, ``imp_norms``) to float64 ``ub``,
    or to ``(ub, ach)`` when ``achieved``. ``ub`` bounds every score in the
    block from above; ``ach`` is at most the score of some doc of the block
    (impacts are ACTUAL (freq, norm) pairs of its docs —
    codec.pareto_impacts keeps real pairs).

    BM25 scorers of one similarity share the SAME inverse-norm cache; only
    the scalar weight differs per term. Then a whole batch is one
    vectorized float64 expression over the flattened impacts. The query
    path scores in float32, whose result is off by at most a few float32
    ulps of the weight, so ub is padded up and ach down by 1e-6 of the
    weight: a larger ub only keeps more blocks, a smaller ach only weakens
    θ. Any other scorer takes its own ``max_score`` (and the exact max of
    its ``score``) one block row at a time."""
    scs = list(scorers.values())
    if scs and all(isinstance(s, BM25Scorer) for s in scs) and all(
        s.cache is scs[0].cache or np.array_equal(s.cache, scs[0].cache)
        for s in scs[1:]
    ):
        cache = np.asarray(scs[0].cache, dtype=np.float64)
        weights = {t: float(s.weight) for t, s in scorers.items()}

        def shared(pdf: pd.DataFrame, achieved: bool = False):
            impf, impn = pdf["imp_freqs"], pdf["imp_norms"]
            lens = np.fromiter((len(x) for x in impf), dtype=np.int64,
                               count=len(pdf))
            flat_f = np.concatenate(list(impf)).astype(np.float64)
            flat_n = np.concatenate(list(impn)).astype(np.int64)
            w = pdf["term"].map(weights).to_numpy(dtype=np.float64)
            w_flat = np.repeat(w, lens)
            scores = w_flat - w_flat / (1.0 + flat_f * cache[flat_n & 0xFF])
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            mx = np.maximum.reduceat(scores, starts)
            pad = _BOUND_SLACK * np.abs(w) + 1e-12
            return (mx + pad, mx - pad) if achieved else mx + pad

        return shared

    def each(pdf: pd.DataFrame, achieved: bool = False):
        rows = [
            (scorers[t], np.asarray(f, dtype=np.int64), np.asarray(n, dtype=np.int64))
            for t, f, n in zip(pdf["term"], pdf["imp_freqs"], pdf["imp_norms"])
        ]
        ub = np.array([sc.max_score(f, n) for sc, f, n in rows], dtype=np.float64)
        if not achieved:
            return ub
        ach = np.array(
            [float(sc.score(f, n).max()) for sc, f, n in rows], dtype=np.float64
        )
        return ub, ach

    return each


def _wand_block_test(
    scorers: Dict[str, BM25Scorer], rest: Dict[str, float], theta: float
):
    """The WAND block test, applied at the scanner before any posting
    decode: a block row is kept unless ub + Σ_{t'≠t} gmax(t') < θ."""
    bound = _block_bound_fn(scorers)
    return lambda pdf: (
        bound(pdf) + pdf["term"].map(rest).to_numpy(dtype=np.float64) >= theta
    )


_DRIVER_META_MAX = 2_000_000  # rows a driver-side snapshot may hold


def _driver_meta_max() -> int:
    """Capacity of the driver-side snapshots (the tombstone set,
    FreeTextSuggester's n-gram cache): above it they stay distributed."""
    return int(os.environ.get("LUCENE_SPARK_DRIVER_META_MAX", _DRIVER_META_MAX))


def _no_deletes(searcher) -> bool:
    return (
        searcher.index.deletes is None
        and getattr(searcher.index, "soft_deletes", None) is None
    )


def _block_summaries(searcher, scorers: Dict[str, BM25Scorer]) -> DataFrame:
    """Per Arrow batch and queried term, a partial summary of the term's
    postings blocks (one _block_bound_fn pass): the max ub (gmax), the block
    count, the top achieved scores, and the key of the max-ub block (lowest
    (segment, block) on ties). No shuffle — postings are term-major, so a
    term has a few partials, which the driver merges."""
    bound = _block_bound_fn(scorers)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ub, ach = bound(pdf, achieved=True)
            seg = pdf["segment_id"].to_numpy()
            blk = pdf["block_id"].to_numpy()
            rows = []
            for t, at in pdf.groupby("term", sort=False).indices.items():
                best = at[np.lexsort((blk[at], seg[at], -ub[at]))[0]]
                rows.append((t, ub[best], len(at),
                             np.sort(ach[at])[::-1][:_DIST_ACH_TOPK],
                             seg[best], blk[best]))
            yield pd.DataFrame(rows, columns=[
                "term", "gmax", "nblocks", "top_ach", "segment_id", "block_id"
            ])

    return (
        searcher.index.postings.filter(F.col("term").isin(list(scorers)))
        .select("term", "segment_id", "block_id", "imp_freqs", "imp_norms")
        .mapInPandas(
            run,
            schema="term string, gmax double, nblocks long, "
                   "top_ach array<double>, segment_id int, block_id int",
        )
    )
