"""Query execution: the reference's IndexSearcher / Weight / Scorer stack
re-expressed set-at-a-time as DataFrame ops + Arrow-batch decoders.

Pipeline per query (SURVEY.md §3.2 mapping):
1. rewrite(query)                      — driver-side AST fixpoint
2. stats lookup (terms table, tiny)    — global stats like IndexSearcher.java:938-957
3. per-term scorer (idf + norm cache)  — BM25Similarity.scorer
4. postings decode + vectorized score  — mapInPandas over block rows
   (PostingsEnum bulk decode; Spark's batch model replaces the iterator).
   Every MUST / SHOULD bool, dismax and blended query is a
   prune._flat_term_clauses shape: its term clauses are one
   scored_postings pass over all their terms (_eval_flat), each term
   scored under the key _shape_keys picks — the mapping the hot tier and
   WAND read too — and each other clause is evaluated on its own
5. boolean algebra as joins/groupBy    — Boolean2ScorerSupplier analogs:
   MUST=intersection via grouped counts, SHOULD=sum, FILTER=semi join,
   MUST_NOT=anti join, minimumShouldMatch=HAVING count, dismax = max +
   tie × (sum − max). A shape's clauses combine in one groupBy, the one
   Boolean combine (_combine); _eval_bool adds the FILTER / MUST_NOT joins
6. top-k: orderBy(score desc, doc_id asc).limit(k)
   == per-partition heap + TopDocs.merge (TakeOrderedAndProject), ties by
   ascending doc_id (TopScoreDocCollector.java:27-29)

Positional queries (phrase, multi-phrase, span, interval, term automaton)
replace step 4 with: decode_raw(terms, with_positions=True) → position_freqs
(group by doc, one pandas_udf per Arrow batch) → the evaluator's freq
kernel (matchers.py) → one scoring tail: _score_freq_norm (similarity over
freq and norm) or _interval_saturation (similarity-free).

Top-k entry points (``search``, ``top_docs``, ``search_after``) go through
one planner, ``Searcher.plan``: the hot driver cache, then block-max
pruning (WAND analog, prune.py), then the exhaustive ``_eval`` above;
correctness never depends on the tier (equivalence-tested).
"""

from __future__ import annotations

import dataclasses
import functools
import os
import re
from collections import OrderedDict
from dataclasses import dataclass
from typing import Dict, Iterator, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from . import codec, matchers
from .bm25 import BM25Scorer, score_postings
from .build import Index
from .query import (
    BooleanClause,
    BooleanQuery,
    ConstantScoreQuery,
    DisjunctionMaxQuery,
    FeatureQuery,
    FuzzyQuery,
    MatchAllDocsQuery,
    MatchNoDocsQuery,
    MultiPhraseQuery,
    Occur,
    PointInSetQuery,
    PointRangeQuery,
    AtLeastIntervalQuery,
    ExtendedIntervalQuery,
    IntervalFilterQuery,
    CombinedFieldQuery,
    CoveringQuery,
    FunctionRangeQuery,
    FunctionScoreQuery,
    IndexSortRangeQuery,
    IntervalMultiTerm,
    IntervalQuery,
    NoOverlapsIntervalQuery,
    ParentChildrenBlockJoinQuery,
    PhraseQuery,
    FieldMaskedTerm,
    SpanContainQuery,
    SpanFirstQuery,
    SpanNearQuery,
    SpanNotQuery,
    SpanOrQuery,
    SpanPositionRangeQuery,
    PrefixQuery,
    Query,
    RegexpQuery,
    SynonymQuery,
    TermInSetQuery,
    TermQuery,
    TermRangeQuery,
    ToChildBlockJoinQuery,
    ToParentBlockJoinQuery,
    WildcardQuery,
    rewrite,
)

MATCH_SCHEMA = "doc_id long, score double"
MAX_CLAUSE_COUNT = 1024  # BooleanQuery.maxClauseCount default
_BLOCKJOIN_BUCKET = 1 << 20  # doc_ids per bucket of the block-join parent map
_FUZZY_NGRAM_AUTO = 100_000  # vocabulary size that auto-builds the fuzzy q-gram index


def _map_blocks(blocks: DataFrame, schema: str, frame, positions=False, keep=None):
    """The Spark tier's one block decode loop: ``frame(pdf, decoded)`` over
    every batch of the postings block rows in ``blocks``, decoded by
    codec.decode_blocks (block-row order, then posting order). ``keep``
    maps a batch to a row mask applied before the decode."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if keep is not None and len(pdf):
                pdf = pdf[keep(pdf)]
            if len(pdf):
                yield frame(pdf, codec.decode_blocks(pdf, positions))

    return blocks.mapInPandas(run, schema=schema)


def scored_postings(blocks: DataFrame, scorers, keep=None, must=None) -> DataFrame:
    """(doc_id, score) of every posting of the block rows in ``blocks`` (a
    term without a scorer scores 1.0), plus ``is_must`` (1 on the postings
    of a term in ``must``) when ``must`` is given."""

    def frame(pdf: pd.DataFrame, d: codec.Decoded) -> pd.DataFrame:
        out = {"doc_id": d.docs, "score": score_postings(pdf["term"], d, scorers)}
        if must is not None:
            out["is_must"] = pdf["term"].isin(must).to_numpy(np.int32)[d.row]
        return pd.DataFrame(out)

    schema = MATCH_SCHEMA if must is None else MATCH_SCHEMA + ", is_must int"
    return _map_blocks(blocks, schema, frame, keep=keep)


def _combine(parts: List[DataFrame], must: int, msm: int, tie: Optional[float]) -> DataFrame:
    """The Spark tier's one Boolean combine of per-clause (doc_id, score,
    is_must) frames, one row per clause match: with ``tie`` None, the sum
    over the docs that match all ``must`` required clauses and at least
    ``msm`` (one when nothing is required) of the others
    (search/BooleanScorer.java); else max + tie × (sum − max)
    (search/DisjunctionMaxScorer.java)."""
    u = functools.reduce(DataFrame.unionByName, parts)
    if tie is not None:
        agg = u.groupBy("doc_id").agg(F.max("score").alias("mx"), F.sum("score").alias("sm"))
        mx = F.col("mx")
        return agg.select("doc_id", (mx + F.lit(tie) * (F.col("sm") - mx)).alias("score"))
    agg = u.groupBy("doc_id").agg(
        F.sum("score").alias("score"),
        F.sum("is_must").alias("n_must"),
        F.count("*").alias("n"),
    )
    need = msm if must else max(msm, 1)
    return agg.filter((F.col("n_must") == must) & (F.col("n") - F.col("n_must") >= need)
                      ).select("doc_id", "score")


def decoded_postings(blocks: DataFrame, with_positions: bool = False) -> DataFrame:
    """(term, doc_id, freq, norm[, positions]) of every posting of the block
    rows in ``blocks``."""

    def frame(pdf: pd.DataFrame, d: codec.Decoded) -> pd.DataFrame:
        out = {
            "term": pdf["term"].to_numpy()[d.row],
            "doc_id": d.docs,
            "freq": d.freqs.astype(np.int32),
            "norm": d.norms.astype(np.int32),
        }
        if with_positions:
            out["positions"] = np.split(d.positions.astype(np.int32), d.pos_starts[1:])
        return pd.DataFrame(out)

    schema = "term string, doc_id long, freq int, norm int"
    if with_positions:
        schema += ", positions array<int>"
    return _map_blocks(blocks, schema, frame, with_positions)


def matching_docs(blocks: DataFrame) -> DataFrame:
    """Distinct doc_ids of the block rows in ``blocks``."""
    return _map_blocks(
        blocks, "doc_id long", lambda pdf, d: pd.DataFrame({"doc_id": d.docs})
    ).distinct()


def position_freqs(raw: DataFrame, keys, min_keys: int, freq) -> DataFrame:
    """The Spark tier's one positional step: (doc_id, freq, norm) of the
    docs of ``raw`` (term, doc_id, norm, positions) that hold at least
    ``min_keys`` distinct keys and whose ``freq(by_key, n_docs)`` is > 0.
    ``freq`` is the evaluator's kernel: per Arrow batch of grouped docs,
    ``by_key`` maps each of ``keys`` to the docs' int64 position arrays
    (None where a doc lacks the key), and it returns one freq per doc."""
    keys = tuple(keys)

    @F.pandas_udf("double")
    def freqs(plist: pd.Series) -> pd.Series:
        n_docs = len(plist)
        by_key = {k: [None] * n_docs for k in keys}
        for i, entries in enumerate(plist):
            for e in entries:
                by_key[e["term"]][i] = np.asarray(e["positions"], dtype=np.int64)
        return pd.Series(np.asarray(freq(by_key, n_docs), dtype=np.float64))

    grouped = raw.groupBy("doc_id").agg(
        F.count("*").alias("nt"),
        F.first("norm").alias("norm"),
        F.collect_list(F.struct("term", "positions")).alias("plist"),
    )
    if min_keys > 1:
        grouped = grouped.filter(F.col("nt") >= min_keys)
    return (
        grouped.withColumn("freq", freqs(F.col("plist")))
        .filter(F.col("freq") > 0)
        .select("doc_id", "freq", "norm")
    )


def _slot_position_lists(by_key, slots, n_docs):
    """position_freqs' per-key lists → per-SLOT per-doc position lists: a
    slot with several alternatives (Intervals.or / multi-term expansion)
    gets the sorted union of its alternatives' positions — the minimal
    intervals of a point-term disjunction are just the union of points
    (DisjunctionIntervalsSource over TermIntervalsSource)."""
    by_slot = []
    for s in slots:
        col = []
        for i in range(n_docs):
            parts = [by_key[k][i] for k in s if by_key[k][i] is not None]
            if not parts:
                col.append(None)
            elif len(parts) == 1:
                col.append(parts[0])
            else:
                col.append(np.unique(np.concatenate(parts)))
        by_slot.append(col)
    return by_slot


def _slot_min_keys(slots) -> int:
    """The distinct keys a doc needs to fill every slot: one per slot when
    no two slots share an alternative, else 1 (decided in the kernel)."""
    disjoint = all(
        not (set(slots[i]) & set(slots[j]))
        for i in range(len(slots))
        for j in range(i + 1, len(slots))
    )
    return len(slots) if disjoint else 1


def _span_near_freqs(lists, slop: int, in_order: bool, n_docs: int, distinct: bool):
    """SpanNearQuery freq per doc over per-clause position lists
    (NearSpansOrdered greedy chains / NearSpansUnordered walk, matchers.py)."""
    if in_order:
        return matchers.span_ordered_freqs(lists, slop, n_docs)
    return matchers.span_unordered_freqs(lists, slop, n_docs, distinct=distinct)


def _span_spec(op, what: str):
    """A span operand as (mode, terms, slop, in_order): a term's point
    spans or a SpanNearQuery's match windows."""
    if isinstance(op, str):
        return ("term", (op,), 0, True)
    if isinstance(op, SpanNearQuery):
        return ("near", tuple(op.terms), int(op.slop), bool(op.in_order))
    raise NotImplementedError(f"{what} operand {type(op).__name__}")


def _doc_spans(spec, by_key, d: int):
    """(starts, ends) of a _span_spec's span stream in doc ``d`` (term
    points, NearSpansOrdered chains, NearSpansUnordered states — matchers.py);
    empty when one of its terms is absent from the doc."""
    mode, terms, slop, in_order = spec
    lists = [by_key[t][d] for t in terms]
    if any(p is None for p in lists):
        return np.empty(0, np.int64), np.empty(0, np.int64)
    if mode == "term":
        return lists[0], lists[0] + 1
    if in_order:
        return matchers.ordered_chain_spans(lists, slop)
    return matchers.unordered_state_spans(lists, slop)


def _span_weight(starts: np.ndarray, ends: np.ndarray) -> float:
    """Σ 1/(1 + (end - start)) over spans (SpanScorer.setFreqCurrentDoc)."""
    return np.sum(1.0 / (1.0 + (ends - starts).astype(np.float64)))


class TooManyClauses(RuntimeError):
    """IndexSearcher.TooManyClauses analog: a SCORING multi-term rewrite
    exceeded MAX_CLAUSE_COUNT (constant-score rewrites are uncapped)."""


def _fixed_width_range_regex(lo: str, hi: str) -> str:
    """Regex for zero-padded decimal strings of width len(lo) with value in
    [lo, hi] (classic digit-range decomposition)."""
    if lo == hi:
        return lo
    if len(lo) == 1:
        return f"[{lo}-{hi}]"
    if lo[0] == hi[0]:
        return lo[0] + "(?:" + _fixed_width_range_regex(lo[1:], hi[1:]) + ")"
    d = len(lo) - 1
    parts = [lo[0] + "(?:" + _fixed_width_range_regex(lo[1:], "9" * d) + ")"]
    if int(hi[0]) - int(lo[0]) >= 2:
        a, b = str(int(lo[0]) + 1), str(int(hi[0]) - 1)
        parts.append((f"[{a}-{b}]" if a != b else a) + f"[0-9]{{{d}}}")
    parts.append(hi[0] + "(?:" + _fixed_width_range_regex("0" * d, hi[1:]) + ")")
    return "(?:" + "|".join(parts) + ")"


def _decimal_interval_regex(mn: int, mx: int, digits: int) -> str:
    """Regex equivalent of Automata.makeDecimalInterval
    (util/automaton/Automata.java:457): digits > 0 = exactly that many
    zero-padded digits; digits == 0 = any number of leading zeros before
    the canonical representation (the <n-m> parse sets digits =
    len(min-str) when both bounds were written with equal width,
    RegExp.java:1321-1323)."""
    if digits > 0:
        return _fixed_width_range_regex(
            str(mn).zfill(digits), str(mx).zfill(digits)
        )
    parts = []
    if mn == 0:
        parts.append("0")
        mn = 1
    for L in range(len(str(max(mn, 1))), len(str(mx)) + 1):
        lo = max(mn, 1 if L == 1 else 10 ** (L - 1))
        hi = min(mx, 10**L - 1)
        if lo <= hi:
            parts.append(_fixed_width_range_regex(str(lo), str(hi)))
    if not parts:
        return "(?:x^)"  # empty language guard (mn > mx after 0-handling)
    return "0*(?:" + "|".join(parts) + ")"


def split_lucene_regexp_ops(pattern: str):
    """Split a Lucene RegExp on TOP-LEVEL automaton operators into
    disjunctive normal form over plain-regex leaves:
    returns [branch, ...] where each branch is [(negated, subpattern), ...]
    — OR over branches of AND over leaves (RegExp grammar: '|' binds looser
    than '&'; '~' supported when it complements a parenthesized group
    spanning a whole intersection operand; '#' = the empty language drops
    its branch). Operators nested inside groups raise NotImplementedError
    here, which routes the query to the Brzozowski-derivative DFA fallback
    (Searcher._regexp_derivative_cond / lucene_spark/regexp.py) — this
    split exists purely to keep splittable patterns on the JVM rlike fast
    path."""
    def top_split(s: str, sep: str):
        out, depth, cls, i, start = [], 0, False, 0, 0
        while i < len(s):
            ch = s[i]
            if ch == "\\":
                i += 2
                continue
            if cls:
                if ch == "]":
                    cls = False
            elif ch == "[":
                cls = True
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == '"':
                j = s.find('"', i + 1)
                i = j if j >= 0 else len(s)
            elif ch == sep and depth == 0:
                out.append(s[start:i])
                start = i + 1
            i += 1
        out.append(s[start:])
        return out

    branches = []
    for branch in top_split(pattern, "|"):
        leaves = []
        empty = False
        for part in top_split(branch, "&"):
            part = part.strip()
            if part == "#":
                empty = True  # intersection with the empty language
                break
            neg = False
            if part.startswith("~"):
                body = part[1:]
                if not (body.startswith("(") and body.endswith(")")):
                    raise NotImplementedError(
                        "Lucene RegExp '~' is supported only when it "
                        "complements a parenthesized group spanning a whole "
                        "intersection operand (util/automaton/RegExp.java)"
                    )
                neg, part = True, body[1:-1]
            leaves.append((neg, part))
        if not empty:
            branches.append(leaves)
    return branches


def lucene_regexp_to_java(pattern: str) -> str:
    """Translate the reference's RegExp syntax (util/automaton/RegExp.java)
    into an equivalent Java/RE2 regex for the shared operator subset: the
    core operators (. ? * + {n,m} | () [] \\x escapes) coincide; '@'
    (ANYSTRING) becomes '.*'; "quoted strings" become escaped literals;
    RegExp is always fully anchored (callers wrap ^(?:...)$). The
    automaton-only operators & (intersection), ~ (complement), # (EMPTY)
    and <n-m> (numeric interval) have no regex equivalent and raise; a
    bare '>' only terminates an interval, so outside one it is the legal
    literal character the reference parses (RegExp.parseSimpleExp
    matchChar) and passes through escaped."""
    out, i = [], 0
    in_class = False
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\" and i + 1 < len(pattern):
            out.append(pattern[i : i + 2])
            i += 2
            continue
        if ch == "[":
            in_class = True
        elif ch == "]":
            in_class = False
        if not in_class:
            if ch == "@":
                out.append(".*")
                i += 1
                continue
            if ch == '"':
                j = pattern.find('"', i + 1)
                if j < 0:
                    raise ValueError("unterminated quoted string in RegExp")
                out.append(re.escape(pattern[i + 1 : j]))
                i = j + 1
                continue
            if ch == "<":
                j = pattern.find(">", i + 1)
                body = pattern[i + 1 : j] if j > 0 else ""
                m = re.fullmatch(r"(\d+)-(\d+)", body)
                if m is None:
                    raise NotImplementedError(
                        "Lucene RegExp '<...>' named automata are "
                        "automaton-only (util/automaton/RegExp.java); only "
                        "numeric intervals <n-m> translate"
                    )
                smin, smax = m.group(1), m.group(2)
                digits = len(smin) if len(smin) == len(smax) else 0
                lo, hi = int(smin), int(smax)
                if lo > hi:
                    lo, hi = hi, lo
                out.append("(?:" + _decimal_interval_regex(lo, hi, digits) + ")")
                i = j + 1
                continue
            if ch in "&~#":
                raise NotImplementedError(
                    f"Lucene RegExp operator {ch!r} is automaton-only "
                    "(util/automaton/RegExp.java); translate top-level "
                    "compositions via split_lucene_regexp_ops"
                )
            if ch == ">":
                out.append(re.escape(ch))
                i += 1
                continue
        out.append(ch)
        i += 1
    return "".join(out)


@dataclass(frozen=True)
class Explanation:
    """Score-decomposition node (search/Explanation.java analog)."""

    value: float
    description: str
    details: tuple = ()
    matched: bool = True

    def __str__(self) -> str:
        lines = [f"{self.value:.6g} = {self.description}"]
        for d in self.details:
            lines.extend("  " + ln for ln in str(d).splitlines())
        return "\n".join(lines)


@dataclass(frozen=True)
class TermStats:
    doc_freq: int
    total_term_freq: int
    singleton_doc_id: int
    singleton_freq: int
    singleton_norm: int


def _term_stats_of(r) -> TermStats:
    """TermStats of one terms-table row."""
    return TermStats(*(int(r[f]) for f in TermStats.__dataclass_fields__))


def _synonym_stats(stats: Dict[str, TermStats]) -> TermStats:
    """A SynonymQuery's pseudo-term stats: max docFreq and max
    totalTermFreq over its present terms (search/SynonymQuery.java)."""
    return TermStats(
        max(s.doc_freq for s in stats.values()),
        max(s.total_term_freq for s in stats.values()),
        -1, 0, 0,
    )


def _hot_size(entry: tuple, positions: bool) -> int:
    """Budget elements of a hot-cache entry: its positions, or its postings
    plus one per score of every (docs, scores) run it keeps."""
    if positions:
        return len(entry[3])
    return len(entry[0]) + sum(len(d) for d, _s in entry[3].values())


def _scorer_key(multi: bool, boost: float, sts: Sequence[TermStats]) -> tuple:
    """Searcher._scorer's memo key: a (multi-)scorer is a function of its
    boost and the (doc_freq, total_term_freq) of its terms."""
    return (multi, boost, tuple((s.doc_freq, s.total_term_freq) for s in sts))


@dataclass
class Plan:
    """How Searcher.plan serves one top-k query: the ``tier`` that answered
    (``hot``, ``wand`` or ``eval``), each faster tier that ``declined`` with
    its reason, and the result — ``rows`` from the hot and WAND tiers, the
    lazy top-k ``frame`` from _eval."""

    tier: str
    declined: List[Tuple[str, str]]
    rows: Optional[List[Tuple[int, float]]] = None
    frame: Optional[DataFrame] = None


class Searcher:
    def __init__(
        self,
        index: Index,
        dtype=np.float32,
        similarity=None,
        preload_stats: bool = False,
        query_cache=None,
        query_caching_policy=None,
    ):
        from .similarities import BM25

        self.index = index
        self.dtype = dtype
        self.spark = index.docs.sparkSession
        self.sim = similarity or BM25(k1=index.config.k1, b=index.config.b)
        # term stats fetched so far, absent terms included (None): a
        # Searcher is a point-in-time reader, so they never change. Lucene
        # keeps the whole term dictionary memory-resident (FST in .tip);
        # preload_stats is the analog and fills this dict at open. Off by
        # default: at true scale the terms table may exceed driver memory —
        # there term_stats fetches what a query needs, once, and keeps at
        # most _DIST_META_CACHE_MAX terms.
        self._stats_cache: Dict[str, Optional[TermStats]] = {}
        self._stats_complete = preload_stats
        if preload_stats:
            self._stats_cache = {
                r["term"]: _term_stats_of(r) for r in self.index.terms.collect()
            }
        # WAND (prune.py) driver caches: the per-query exact k-th score
        # (minCompetitiveScore carry-over), and per-(term, boost) metadata
        # (gmax / top achieved block scores / probe block key), a few hundred
        # bytes per term whatever the index size — the MaxScoreCache analog
        # (search/MaxScoreCache.java:58-115) without the per-block bounds
        self._theta_cache: Dict[tuple, float] = {}
        self._dist_meta_cache: Dict[tuple, dict] = {}
        # transient block-metadata predicate for sorted early termination
        self._block_pred = None
        # scorers by (multi, boost, ((doc_freq, total_term_freq), ...)):
        # similarity, collection stats and dtype are fixed per Searcher, so
        # the key names one scorer, built once (a Lucene Weight per term)
        self._scorers: Dict[tuple, object] = {}
        # driver-resident decoded postings for hot terms — the analog of
        # Lucene serving postings from the OS page cache. An entry is
        # term -> (docs, freqs, norms, runs): ``runs`` maps each scorer key
        # the term was scored under to its (docs, float64 scores) run (and
        # a synonym's (term set, scorer key) to its merged pseudo-term run),
        # so a warm query re-scores nothing. LRU order; bounded by
        # LUCENE_SPARK_HOT_CACHE_POSTINGS elements, one per posting and one
        # per score (0 disables); a term's runs go when the term is evicted,
        # or sooner when postings a query needs would not fit otherwise.
        self._postings_cache: "OrderedDict[str, tuple]" = OrderedDict()
        self._hot_cached = 0
        # positional variant: term -> (docs, freqs, norms, keys, per-doc
        # starts): keys holds every position as doc << 32 | pos, sorted
        # (plain positions for a term with a doc id past
        # matchers.KEYED_DOCS), one element per position
        self._positions_cache: "OrderedDict[str, tuple]" = OrderedDict()
        self._hot_pos_cached = 0
        # block-join parent maps: parents-filter repr -> persisted
        # (doc_id, parent_id) frame (the cached BitSetProducer role)
        self._blockjoin_maps: Dict[str, DataFrame] = {}
        # FILTER-context doc-set cache (the LRUQueryCache/
        # UsageTrackingQueryCachingPolicy analog — querycache.py). Off by
        # default, exactly like passing a null cache to
        # IndexSearcher.setQueryCache.
        self._query_cache = query_cache
        self._query_caching_policy = query_caching_policy
        if query_cache is not None and query_caching_policy is None:
            from .querycache import UsageTrackingQueryCachingPolicy

            self._query_caching_policy = UsageTrackingQueryCachingPolicy()
        # q-gram terms index for fuzzy candidate pruning
        # (enable_fuzzy_ngram_index) — the automaton-intersection analog.
        # Auto-built on the first fuzzy query when the vocabulary exceeds
        # _FUZZY_NGRAM_AUTO terms (the reference's Levenshtein
        # automaton intersection is always on, search/FuzzyTermsEnum.java:409
        # — below the threshold the banded scan is already cheaper than
        # maintaining the gram table).
        self._ngram_terms: Optional[DataFrame] = None
        self._ngram_n = 2
        self._fuzzy_auto_checked = False
        self._vocab_count: Optional[int] = None
        # live-docs snapshot: a Searcher is a point-in-time reader (like
        # DirectoryReader) — tombstones are loaded once at open. Deleted docs
        # (hard AND soft) never match; stats still include them (Lucene
        # delete semantics; soft deletes are just reversible tombstones).
        # The driver snapshot is capacity-gated like every other driver
        # cache here (LUCENE_SPARK_DRIVER_META_MAX): above the cap no numpy
        # array is built (fetch stops at cap+1 rows), driver-side hot top-k
        # is disabled, and _apply_deletes drops the broadcast hint so the
        # anti-join plans as a regular shuffle join — billions of tombstones
        # must not OOM the driver at open time.
        self._deleted: Optional[np.ndarray] = None
        self._tombs_over_cap = False
        tombs = [
            t
            for t in (index.deletes, getattr(index, "soft_deletes", None))
            if t is not None
        ]
        if tombs:
            from .prune import _driver_meta_max

            cap = _driver_meta_max()
            allt = tombs[0] if len(tombs) == 1 else tombs[0].unionByName(tombs[1])
            rows = (
                allt.select("doc_id").distinct().limit(cap + 1).collect()
                if cap > 0
                else []
            )
            if cap > 0 and len(rows) <= cap:
                self._deleted = np.array(
                    sorted(r["doc_id"] for r in rows), dtype=np.int64
                )
            else:
                self._tombs_over_cap = True

    def _apply_deletes(self, df: DataFrame) -> DataFrame:
        for tomb in (self.index.deletes, getattr(self.index, "soft_deletes", None)):
            if tomb is not None:
                # broadcast only when the snapshot proved the tombstone set
                # small; above the cap let AQE pick the join strategy
                side = F.broadcast(tomb) if not self._tombs_over_cap else tomb
                df = df.join(side, "doc_id", "left_anti")
        return df

    # ---------------- public API ----------------

    def search(self, q: Query, k: int = 10, prune: bool = True) -> DataFrame:
        """Top-k (doc_id, score), ordered by score desc then doc_id asc;
        ``prune=False`` skips the fast tiers (exhaustive evaluation)."""
        if not prune:
            return self._topk(self.matches(q), k)
        p = self.plan(q, k)
        if p.rows is None:
            return p.frame
        return self.spark.createDataFrame(p.rows, MATCH_SCHEMA)

    def plan(self, q: Query, k: int = 10) -> Plan:
        """The query planner: rewrite ``q`` once, then the one hot → WAND →
        _eval fall-through every top-k entry point runs. A tier that cannot
        serve the query is recorded in ``declined`` with its reason and the
        next one is tried; _eval serves everything."""
        from . import prune

        q = rewrite(q)
        shape = prune._flat_term_clauses(q)
        declined: List[Tuple[str, str]] = []
        for tier in ("hot", "wand"):
            why = self._decline(tier, shape)
            if why is None:
                out = (self._hot_rows(shape, k) if tier == "hot"
                       else prune.try_pruned_topk_rows(self, q, k))
                if isinstance(out, list):
                    return Plan(tier, declined, rows=out)
                why = out if tier == "hot" else "below min prunable"
            declined.append((tier, why))
        frame = self._topk(self._apply_deletes(self._eval(q, needs_scores=True)), k)
        return Plan("eval", declined, frame=frame)

    def _decline(self, tier: str, shape) -> Optional[str]:
        """The tier rule: why ``tier`` cannot serve a query of ``shape``
        (a prune.Shape, or None), or None to try it."""
        if tier == "wand":
            from .prune import _wand_declines

            return _wand_declines(shape)
        if shape is None or shape.kind == "bool" or shape.others:
            return "shape"
        # no driver tombstone snapshot: _rank_rows could not filter the
        # deleted docs (the Spark tiers' anti-join stays cluster-side)
        return "tombstones over driver cap" if self._tombs_over_cap else None

    # ---------------- hot-term driver cache ----------------

    def _ensure_hot(self, terms: Sequence[str], stats: Dict[str, TermStats]) -> bool:
        """Postings of every term of ``terms`` in the hot cache (_hot_fill)."""
        return self._hot_fill(terms, stats, positions=False)

    def _ensure_hot_positions(
        self, terms: Sequence[str], stats: Dict[str, TermStats]
    ) -> bool:
        """Postings with positions in the hot cache (_hot_fill), laid out
        FLAT: one sorted array of doc-keyed positions (doc << 32 | pos) +
        per-doc start offsets, so an exact phrase probes it directly
        (matchers.exact_phrase_starts) and per-query gathers stay fully
        vectorized (matchers.gather_slices)."""
        return self.index.config.with_positions and self._hot_fill(
            terms, stats, positions=True
        )

    def _hot_fill(self, terms: Sequence[str], stats: Dict[str, TermStats],
                  positions: bool) -> bool:
        """Fetch the uncached terms of ``terms`` into a hot cache in ONE job,
        within LUCENE_SPARK_HOT_CACHE_POSTINGS elements (positions count
        each position, kept doc-keyed: _ensure_hot_positions); False when
        they cannot fit. LRU: the query's cached terms move to the back and
        _hot_room evicts from the front, never a term of the CURRENT query —
        evicting one after 'need' was computed would leave it absent after
        the fetch."""
        cache = self._positions_cache if positions else self._postings_cache
        need = []
        for t in dict.fromkeys(terms):
            if t in cache:
                cache.move_to_end(t)
            else:
                need.append(t)
        add = sum(stats[t].total_term_freq if positions else stats[t].doc_freq
                  for t in need)
        if not self._hot_room(positions, add, terms, drop_runs=not positions):
            return False
        if need:
            pdf = self.decode_raw(need, with_positions=positions).toPandas()
            for t, g in pdf.groupby("term"):
                g = g.sort_values("doc_id")
                e = tuple(g[c].to_numpy(np.int64) for c in ("doc_id", "freq", "norm"))
                if positions:
                    keys = np.concatenate(
                        [np.asarray(p, dtype=np.int64) for p in g["positions"]]
                    )
                    if len(e[0]) and e[0][-1] < matchers.KEYED_DOCS:
                        keys |= np.repeat(e[0] << matchers._DOC_SHIFT, e[1])
                    e += (keys, np.cumsum(e[1]) - e[1])
                cache[t] = e if positions else e + ({},)
            empty = np.empty(0, np.int64)
            for t in need:  # terms absent from postings (defensive)
                cache.setdefault(t, (empty,) * 5 if positions else (empty,) * 3 + ({},))
            n = sum(_hot_size(cache[t], positions) for t in need)
            if positions:
                self._hot_pos_cached += n
            else:
                self._hot_cached += n
        return True

    def _hot_room(self, positions: bool, add: int, current: Sequence[str],
                  drop_runs: bool = False) -> bool:
        """Whether ``add`` more elements fit a hot cache, evicting least
        recently used terms (with their score runs) from the front until
        they do. The current query's terms sit at the back, so eviction
        stops at the first of them; then, with ``drop_runs`` (room for
        postings), the score runs of the terms left go too: a run can be
        scored again, postings the query needs cannot be skipped."""
        limit = int(os.environ.get("LUCENE_SPARK_HOT_CACHE_POSTINGS", "20000000"))
        if limit <= 0 or add > limit:
            return False
        cache = self._positions_cache if positions else self._postings_cache
        attr = "_hot_pos_cached" if positions else "_hot_cached"
        used = getattr(self, attr)
        while used + add > limit and cache and next(iter(cache)) not in current:
            used -= _hot_size(cache.popitem(last=False)[1], positions)
        if used + add > limit and drop_runs:
            for e in cache.values():
                used -= sum(len(d) for d, _s in e[3].values())
                e[3].clear()
        setattr(self, attr, used)
        return used + add <= limit

    def diversified_topk(
        self,
        q,
        k: int = 10,
        max_per_key: int = 1,
        key_expr: str = "0",
    ) -> DataFrame:
        """DiversifiedTopDocsCollector (misc/search/
        DiversifiedTopDocsCollector.java): top-k with at most
        ``max_per_key`` hits sharing a key. The reference's greedy
        stream (insert at :101-157) is equivalent to the batch rule
        'per-key top-M by (score desc, doc asc), then global top-N in
        the same order' — the per-key queues mirror the global queue,
        its min never decreases, and a stronger same-key doc always
        displaces a weaker one, so the greedy result IS the batch
        top-N of the per-key top-Ms. Re-expressed as the two-window
        relational plan that rule names. ``key_expr`` is a Spark SQL
        expression over the docs columns (the NumericDocValues source);
        NULL keys collect under 0 (advanceExact-false → 0, :115-119).
        ``q`` is a Query, or a pre-scored (doc_id, score) DataFrame."""
        from pyspark.sql import Window

        scored = q if isinstance(q, DataFrame) else self.matches(q)
        keys = self.index.docs.selectExpr(
            "doc_id", f"coalesce(cast(({key_expr}) as long), 0) AS __key"
        )
        w = Window.partitionBy("__key").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            scored.join(keys, "doc_id")
            .withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= int(max_per_key))
            .select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(int(k))
        )

    def high_freq_terms(self, k: int = 100, by: str = "doc_freq") -> DataFrame:
        """HighFreqTerms (misc/HighFreqTerms.java:99-170): the top-k
        dictionary terms by docFreq or totalTermFreq — one
        TakeOrderedAndProject over the terms table (the stats are already
        materialized index metadata; no postings touched). Output order
        matches the reference's PQ pop-and-reverse: primary stat desc,
        term desc on ties. → (term, doc_freq, total_term_freq)"""
        if by not in ("doc_freq", "total_term_freq"):
            raise ValueError(f"unknown comparator {by!r}")
        return (
            self.index.terms.select(
                "term",
                F.col("doc_freq").cast("long").alias("doc_freq"),
                F.col("total_term_freq").cast("long").alias("total_term_freq"),
            )
            .orderBy(F.desc(by), F.desc("term"))
            .limit(int(k))
        )

    def top_docs(self, q: Query, k: int = 10) -> List[Tuple[int, float]]:
        """TopDocs-style result: [(doc_id, score)] ordered by score desc,
        doc_id asc — no DataFrame round-trip (the latency-measuring API;
        IndexSearcher.search returns TopDocs, not a cursor). The hot and WAND
        tiers hand their rows back directly, so no job is spent
        re-collecting a driver-local result frame."""
        p = self.plan(q, k)
        if p.rows is not None:
            return p.rows
        return [(int(r["doc_id"]), float(r["score"])) for r in p.frame.collect()]

    def search_sorted(
        self, q: Query, k: int = 10, ascending: bool = True
    ) -> DataFrame:
        """Top-k matching docs in INDEX-SORT order with sorted-segment early
        termination — the TopFieldCollector early-exit on a declared index
        sort (IndexWriterConfig.setIndexSort,
        index/IndexWriterConfig.java:476; TopFieldCollector's
        canEarlyTerminate pruning). build_index(order_cols=...) assigns
        doc_ids by the sort rank, so sort order IS doc_id order and
        postings blocks (doc-id-sorted by construction) can be pruned by a
        doc-id frontier: only blocks intersecting [0, bound) (ascending; the
        mirrored tail descending) are decoded, with the frontier widening
        geometrically until k matches accumulate. The block predicate sits
        on plain metadata columns and reaches the Parquet scan, so at 100 TB
        a selective sorted query touches a small prefix of the index instead
        of every block. Returns (doc_id) rows, sort order, no scores
        (constant-score collection like Lucene's early-terminated sort)."""
        if not self.index.index_sort:
            raise ValueError(
                "search_sorted needs an index built with order_cols "
                "(a declared index sort)"
            )
        n = int(self.index.stats.doc_count)
        q = rewrite(q)
        bound = max(8 * k, 1024)
        probes = 0
        while True:
            probes += 1
            if ascending:
                self._block_pred = F.col("base_doc") < bound
            else:
                self._block_pred = F.col("last_doc") >= n - bound
            try:
                m = self._apply_deletes(
                    self._eval(q, needs_scores=False)
                ).select("doc_id").distinct()
                m = (
                    m.filter(F.col("doc_id") < bound)
                    if ascending
                    else m.filter(F.col("doc_id") >= n - bound)
                )
                rows = (
                    m.orderBy(
                        F.asc("doc_id") if ascending else F.desc("doc_id")
                    )
                    .limit(k)
                    .collect()
                )
            finally:
                self._block_pred = None
            if len(rows) >= k or bound >= n:
                # observability for tests/telemetry: how far the frontier
                # had to widen before k sorted matches accumulated
                self._last_sorted_probe = {"bound": bound, "probes": probes}
                return self.spark.createDataFrame(
                    [(int(r["doc_id"]),) for r in rows], "doc_id long"
                )
            bound *= 8

    def _rank_rows(self, u: np.ndarray, tot: np.ndarray, k: int) -> List[Tuple[int, float]]:
        """Top-k of (doc u, score tot) by score desc, doc asc — like
        TopScoreDocCollector, only k-sized work beyond one linear pass:
        partition to the k-th score, keep every hit scoring at least that
        much (boundary ties included) and sort only those. Deleted docs
        are dropped first by binary search in the sorted snapshot."""
        if self._deleted is not None and len(self._deleted) and len(u):
            dl = self._deleted
            j = np.minimum(np.searchsorted(dl, u), len(dl) - 1)
            keep = dl[j] != u
            u, tot = u[keep], tot[keep]
        if 0 < k < len(tot):
            kth = np.partition(tot, len(tot) - k)[len(tot) - k]
            top = np.flatnonzero(tot >= kth)
            u, tot = u[top], tot[top]
        order = np.lexsort((u, -tot))[:k]
        return list(zip(u[order].tolist(), tot[order].tolist()))

    def _hot_rows(self, shape, k: int):
        """The hot tier's one kernel: exact top-k of a prune.Shape from the
        driver postings cache, scored like the Spark tier (same tie rules),
        or the reason it declines. Per-term (docs, scores) runs come from
        the cache, scored once per _shape_keys key (_hot_run) — a synonym's tf is
        summed per doc into one pseudo-term run before it scores — and
        combine by sum (or, boolean blend), intersection (and) or
        max + tie × (sum − max) (dismax, dismax blend) — the sums and maxima
        in a doc-span bucket table when the ids are dense enough
        (matchers.combine_runs); then the outer boost, and _rank_rows."""
        if shape.kind == "phrase":
            return self._hot_phrase_rows(shape.query, k)
        stats = self.term_stats(shape.terms)
        if not stats or any(t not in stats for t in shape.terms[:shape.must]):
            return []
        keys = self._shape_keys(shape, stats)
        terms = list(stats)
        if not self._ensure_hot(terms, stats):
            return "postings exceed hot cache"
        runs = [self._hot_run(t, key, terms) for t, key in keys]
        if len(runs) == 1:
            u, tot = runs[0]
        elif shape.kind == "and":
            u, tot = runs[0]
            for d, sc in runs[1:]:
                u, ia, ib = matchers.intersect_sorted(u, d)
                tot = tot[ia] + sc[ib]
        else:
            u, tot = matchers.combine_runs(runs, shape.tie)
        if shape.boost != 1.0:
            tot = tot * shape.boost
        return self._rank_rows(u, tot, k)

    def _hot_run(self, t: str, key: tuple, current: Sequence[str]):
        """Hot term ``t``'s (docs, float64 scores) under scorer ``key``,
        scored on first use and kept in its cache entry while the budget
        allows (_hot_room). A synonym key (term set, scorer key) is kept on
        its first term: the terms' runs merged, tf summed per doc, scored
        as one pseudo-term."""
        docs, freqs, norms, runs = self._postings_cache[t]
        run = runs.get(key)
        if run is not None:
            return run
        if isinstance(key[0], tuple):
            parts = [self._postings_cache[m] for m in key[0]]
            docs, inv, _o, _s = matchers.merge_sorted_runs([p[0] for p in parts])
            freqs = np.concatenate([p[1] for p in parts]).astype(np.float64)
            freqs = np.bincount(inv, weights=freqs)
            norms = np.zeros(len(docs), dtype=np.int64)
            norms[inv] = np.concatenate([p[2] for p in parts])  # norms are per doc
            sc = self._scorer(key[1])
        else:
            sc = self._scorer(key)
        scores = sc.score(freqs, norms).astype(np.float64)
        scores.flags.writeable = False
        run = (docs, scores)
        if self._hot_room(False, len(docs), current):
            runs[key] = run
            self._hot_cached += len(docs)
        return run

    def _hot_phrase_rows(self, q: PhraseQuery, k: int):
        """Driver-side PhraseQuery, the hot tier's one positional shape:
        identical semantics to _eval_phrase — vectorized batch matching via
        matchers.py (no per-doc Python loop). Rows, or the decline reason.

        An exact phrase over doc-keyed cache entries probes the cached keys
        themselves, rarest slot first (matchers.exact_phrase_starts), and
        counts the valid starts per doc by run length: no doc
        intersection, no gather. A sloppy phrase, or a term with a doc id
        past matchers.KEYED_DOCS, intersects the terms' docs and gathers the
        candidates' positions (key & 0xFFFFFFFF) keyed by candidate index."""
        terms = list(q.terms)
        stats = self.term_stats(terms)
        if any(t not in stats for t in terms):
            return []
        uniq = list(dict.fromkeys(terms))
        if not self._ensure_hot_positions(uniq, stats):
            return "positions exceed hot cache"
        scorer = self.multi_scorer_for(q.boost, [stats[t] for t in terms])
        slop = int(q.slop)
        cache = {t: self._positions_cache[t] for t in uniq}
        if slop == 0 and all(
            not len(e[0]) or e[0][-1] < matchers.KEYED_DOCS for e in cache.values()
        ):
            starts = matchers.exact_phrase_starts(
                {t: e[3] for t, e in cache.items()}, terms
            )
            if not len(starts):
                return []
            d = starts >> matchers._DOC_SHIFT
            first = np.flatnonzero(np.diff(d, prepend=-1))
            u = d[first]
            freqs = np.diff(first, append=len(d)).astype(np.float64)
            docs, _f, norms = cache[uniq[0]][:3]
            sc = scorer.score(freqs, norms[np.searchsorted(docs, u)])
            return self._rank_rows(u, sc.astype(np.float64), k)

        # docs containing every term, with indices into each term's arrays
        cur = cache[uniq[0]][0]
        idxs = {uniq[0]: np.arange(len(cur))}
        for t in uniq[1:]:
            cur, ia, ib = matchers.intersect_sorted(cur, cache[t][0])
            idxs = {tt: v[ia] for tt, v in idxs.items()}
            idxs[t] = ib
        if len(cur) == 0:
            return []
        n_docs = len(cur)
        # vectorized multi-slice gather from the cached keys: the candidate
        # docs' positions arrive as one contiguous array per term with
        # candidate-order doc offsets applied
        g_by_term = {}
        for t in uniq:
            _d, tfreqs, _n, keys, kstarts = cache[t]
            sel = idxs[t]
            lens = tfreqs[sel]
            local = matchers.gather_slices(keys, kstarts[sel], lens)
            local &= matchers._LOW_MASK
            g_by_term[t] = local + np.repeat(
                np.arange(n_docs, dtype=np.int64) << matchers._DOC_SHIFT, lens
            )
        if slop == 0:
            freqs = matchers.exact_phrase_freqs_global(
                g_by_term, terms, n_docs
            ).astype(np.float64)
        else:
            # the gathered layout IS the batch kernels' input (doc-offset
            # global arrays): no per-doc list round-trip
            freqs = matchers.sloppy_phrase_freqs_global(
                g_by_term, terms, slop, n_docs
            )
        keep = freqs > 0
        if not keep.any():
            return []
        norms = cache[uniq[0]][2][idxs[uniq[0]]][keep]
        sc = scorer.score(freqs[keep], norms).astype(np.float64)
        return self._rank_rows(cur[keep], sc, k)

    def search_after(
        self, q: Query, k: int = 10, after: Optional[Tuple[float, int]] = None
    ) -> DataFrame:
        """IndexSearcher.searchAfter analog: the next k hits strictly after
        the (score, doc_id) cursor in (score desc, doc_id asc) order. Cursor
        comes from the last row of the previous page."""
        if after is None:
            return self.search(q, k)
        a_score, a_doc = float(after[0]), int(after[1])
        m = self.matches(q).filter(
            (F.col("score") < F.lit(a_score))
            | ((F.col("score") == F.lit(a_score)) & (F.col("doc_id") > F.lit(a_doc)))
        )
        return self._topk(m, k)

    def matches(self, q: Query) -> DataFrame:
        """Exhaustive (doc_id, score) for every matching doc."""
        return self._apply_deletes(self._eval(rewrite(q), needs_scores=True))

    def count(self, q: Query) -> int:
        """TotalHitCountCollector analog."""
        return self._apply_deletes(
            self._eval(rewrite(q), needs_scores=False)
        ).count()

    def set_query_cache(self, cache, policy=None) -> None:
        """IndexSearcher.setQueryCache / setQueryCachingPolicy analog;
        pass cache=None to disable caching."""
        self._query_cache = cache
        if cache is not None and policy is None and (
            self._query_caching_policy is None
        ):
            from .querycache import UsageTrackingQueryCachingPolicy

            policy = UsageTrackingQueryCachingPolicy()
        if policy is not None:
            self._query_caching_policy = policy

    def _driver_cost(self, q: Query) -> Optional[int]:
        """Driver-side cost estimate (DocIdSetIterator.cost analog) from
        the preloaded term stats — zero Spark jobs; None when unknown."""
        if not self._stats_complete:
            return None
        if isinstance(q, TermQuery):
            st = self._stats_cache.get(q.term)
            return st.doc_freq if st is not None else 0
        if isinstance(q, SynonymQuery):
            costs = [self._driver_cost(TermQuery(term=t)) for t in q.terms]
            return None if any(c is None for c in costs) else sum(costs)
        if isinstance(q, BooleanQuery):
            costs = [self._driver_cost(c.query) for c in q.clauses]
            return None if any(c is None for c in costs) else sum(costs)
        return None

    def _docset(self, sq: Query, lead_cost: Optional[int] = None) -> DataFrame:
        """Non-scoring doc-id set for a FILTER/MUST_NOT clause, routed
        through the query cache when one is configured."""
        def build() -> DataFrame:
            return self._eval(sq, False).select("doc_id").distinct()

        if self._query_cache is None:
            return build()
        # the IndexReader.CacheKey role: a stable token stamped on the
        # POSTINGS frame — the immutable segment core. Tombstone deletes
        # share it (delete_docs keeps the same postings object, liveDocs
        # layered separately — exactly Lucene's core-vs-liveDocs split),
        # while merges/rebuilds produce new postings and so a new core.
        core = getattr(self.index.postings, "_qc_core_key", None)
        if core is None:
            core = object()
            self.index.postings._qc_core_key = core
        df, _hit = self._query_cache.doc_set(
            sq,
            build,
            self._query_caching_policy,
            max_doc=int(self.index.stats.doc_count),
            lead_cost=lead_cost,
            est_cost=self._driver_cost(sq),
            core_key=core,
        )
        return df

    def _topk(self, matches: DataFrame, k: int) -> DataFrame:
        return matches.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    # ---------------- stats / scorers ----------------

    def term_stats(self, terms: Sequence[str]) -> Dict[str, TermStats]:
        """Stats of the present terms among ``terms``, in query order: one
        terms-table lookup for those not fetched before, none once every
        term is known (see __init__)."""
        cache = self._stats_cache
        found = {t: cache.get(t) for t in terms if t in cache}
        missing = [] if self._stats_complete else [
            t for t in dict.fromkeys(terms) if t not in found
        ]
        if missing:
            from .prune import _DIST_META_CACHE_MAX

            rows = self.index.terms.filter(F.col("term").isin(missing)).collect()
            got = {r["term"]: _term_stats_of(r) for r in rows}
            for t in missing:
                if len(cache) >= _DIST_META_CACHE_MAX:
                    cache.pop(next(iter(cache)))
                cache[t] = found[t] = got.get(t)
        return {t: found[t] for t in terms if found.get(t) is not None}

    def scorer_for(self, boost: float, st: TermStats):
        return self._scorer(_scorer_key(False, boost, [st]))

    def multi_scorer_for(self, boost: float, sts: Sequence[TermStats]):
        return self._scorer(_scorer_key(True, boost, sts))

    def _scorer(self, key: tuple):
        """The memoized scorer of a _scorer_key: built on first use, at most
        _DIST_META_CACHE_MAX kept (oldest dropped first)."""
        sc = self._scorers.get(key)
        if sc is None:
            from .prune import _DIST_META_CACHE_MAX
            from .similarities import TermStatsIn

            multi, boost, pairs = key
            ts = [TermStatsIn(df, ttf) for df, ttf in pairs]
            if multi:
                sc = self.sim.multi_scorer(boost, ts, self.index.stats, self.dtype)
            else:
                sc = self.sim.scorer(boost, ts[0], self.index.stats, self.dtype)
            if len(self._scorers) >= _DIST_META_CACHE_MAX:
                self._scorers.pop(next(iter(self._scorers)))
            self._scorers[key] = sc
        return sc

    def _empty(self) -> DataFrame:
        return self.spark.createDataFrame([], MATCH_SCHEMA)

    # ---------------- decoders ----------------

    def _postings_for(self, terms: Sequence[str]) -> DataFrame:
        df = self.index.postings.filter(F.col("term").isin(list(terms)))
        if self._block_pred is not None:
            # sorted-segment early termination (search_sorted): restrict the
            # decode to blocks intersecting the current doc-id frontier —
            # the predicate is on plain block-metadata columns, so it pushes
            # into the postings Parquet scan (row-group pruning)
            df = df.filter(self._block_pred)
        return df

    def decode_raw(
        self, terms: Sequence[str], with_positions: bool = False
    ) -> DataFrame:
        """Decode postings to (term, doc_id, freq, norm[, positions])."""
        if with_positions and not self.index.config.with_positions:
            # IndexOptions mismatch — the failure Lucene raises when a
            # positional query hits a field indexed without positions
            raise ValueError(
                "positional query on an index built with with_positions=False"
            )
        return decoded_postings(self._postings_for(terms), with_positions)

    # ---------------- evaluation ----------------

    def _eval(self, q: Query, needs_scores: bool) -> DataFrame:
        from .prune import _flat_term_clauses
        from .query import TermAutomatonQuery

        shape = _flat_term_clauses(q)
        if shape is not None and shape.kind not in ("synonym", "phrase"):
            return self._eval_flat(shape, needs_scores)
        if isinstance(q, TermQuery):  # field-qualified; one field here
            return self._eval(dataclasses.replace(q, field=None), needs_scores)
        if isinstance(q, TermAutomatonQuery):
            return self._eval_term_automaton(q)
        if isinstance(q, MatchNoDocsQuery):
            return self._empty()
        if isinstance(q, MatchAllDocsQuery):
            return self.index.docs.select(
                "doc_id", (F.lit(float(np.float32(q.boost)))).alias("score")
            )
        if isinstance(q, SynonymQuery):
            return self._eval_synonym(q)
        if isinstance(q, BooleanQuery):
            return self._eval_bool(q, needs_scores)
        if isinstance(q, PhraseQuery):
            return self._eval_phrase(q)
        if isinstance(q, MultiPhraseQuery):
            return self._eval_multi_phrase(q)
        if isinstance(q, SpanNearQuery):
            return self._eval_span_near(q)
        if isinstance(q, SpanContainQuery):
            return self._eval_span_contain(q)
        if isinstance(q, SpanOrQuery):
            return self._eval_span_or(q)
        if isinstance(q, SpanNotQuery):
            return self._eval_span_not(q)
        if isinstance(q, SpanFirstQuery):
            return self._eval_span_position_range(SpanPositionRangeQuery(
                match=q.term, start=0, end=q.end, boost=q.boost
            ))
        if isinstance(q, SpanPositionRangeQuery):
            return self._eval_span_position_range(q)
        if isinstance(q, IntervalQuery):
            return self._eval_intervals(q)
        if isinstance(q, IntervalFilterQuery):
            return self._eval_interval_filter(q)
        if isinstance(q, ExtendedIntervalQuery):
            return self._eval_intervals_ext(q)
        if isinstance(q, NoOverlapsIntervalQuery):
            return self._eval_intervals_no_overlaps(q)
        if isinstance(q, FunctionScoreQuery):
            return self._eval_function_score(q)
        if isinstance(q, CoveringQuery):
            return self._eval_covering(q)
        if isinstance(q, ToParentBlockJoinQuery):
            return self._eval_to_parent_block_join(q)
        if isinstance(q, ToChildBlockJoinQuery):
            return self._eval_to_child_block_join(q)
        if isinstance(q, ParentChildrenBlockJoinQuery):
            return self._eval_parent_children_block_join(q)
        if isinstance(q, AtLeastIntervalQuery):
            return self._eval_intervals_atleast(q)
        if isinstance(q, ConstantScoreQuery):
            inner = self._eval(q.query, needs_scores=False)
            # boost in the searcher's score dtype: f32 = reference parity,
            # f64 = the DuckDB-oracle mode (irrational boosts must not be
            # f32-truncated there)
            return inner.select("doc_id").distinct().withColumn(
                "score", F.lit(float(self.dtype(q.boost)))
            )
        if isinstance(q, (PrefixQuery, WildcardQuery, RegexpQuery, TermRangeQuery, TermInSetQuery, FuzzyQuery)):
            return self._eval_multi_term(q)
        if isinstance(q, IndexSortRangeQuery):
            return self._eval_index_sort_range(q)
        if isinstance(q, FunctionRangeQuery):
            v = F.expr(f"CAST(({q.value_expr}) AS DOUBLE)")
            cond = v.isNotNull() & ~F.isnan(v)  # NaN never matches (Java)
            if q.lower is not None:
                cond = cond & (
                    (v >= q.lower) if q.include_lower else (v > q.lower)
                )
            if q.upper is not None:
                cond = cond & (
                    (v <= q.upper) if q.include_upper else (v < q.upper)
                )
            # score = the function value (ValueSourceScorer.java:88-96)
            return self.index.docs.filter(cond).select(
                "doc_id", v.alias("score")
            )
        if isinstance(q, (PointRangeQuery, PointInSetQuery)):
            if q.field_col not in self.index.docs.columns:
                return self._empty()
            col = F.col(q.field_col)
            if isinstance(q, PointRangeQuery):
                cond = col.isNotNull()
                if q.lower is not None:
                    cond = cond & (col >= q.lower)
                if q.upper is not None:
                    cond = cond & (col <= q.upper)
            else:
                cond = col.isin(list(q.values))
            return self.index.docs.filter(cond).select(
                "doc_id", F.lit(float(np.float32(q.boost))).alias("score")
            )
        if isinstance(q, FeatureQuery):
            if q.feature not in self.index.docs.columns:
                return self._empty()
            # FeatureField requires strictly positive feature values
            # (document/FeatureField.java); non-positive docs don't match
            col = F.col(q.feature)
            return self.index.docs.filter(col.isNotNull() & (col > 0)).select(
                "doc_id",
                (
                    F.lit(float(q.boost)) * F.log(F.lit(1.0) + col.cast("double"))
                ).alias("score"),
            )
        raise NotImplementedError(type(q).__name__)

    def _shape_keys(self, shape, stats: Dict[str, TermStats]) -> List[Tuple[str, tuple]]:
        """[(term, scorer key)] of a prune.Shape's present terms, every
        occurrence in query order: the one place a flat shape's scorers are
        chosen, for the hot kernel, WAND and _eval_flat. A blended term
        scores with the ARTIFICIAL stats df = max(df_i), ttf = sum(ttf_i)
        and its own boost (core/search/BlendedTermQuery.java:271-300); a
        synonym is one pseudo-term key (term set, scorer key) on its first
        present term."""
        present = [(t, b) for t, b in zip(shape.terms, shape.boosts) if t in stats]
        if not present:
            return []
        if shape.kind == "synonym":
            syn = _scorer_key(False, shape.boosts[0], [_synonym_stats(stats)])
            return [(present[0][0], (tuple(stats), syn))]
        if shape.kind == "blended":
            art = TermStats(
                max(stats[t].doc_freq for t, _b in present),
                sum(stats[t].total_term_freq for t, _b in present),
                -1, 0, 0,
            )
            return [(t, _scorer_key(True, b, [art])) for t, b in present]
        return [(t, _scorer_key(False, b, [stats[t]])) for t, b in present]

    def _eval_flat(self, shape, needs_scores: bool = True, keep=None,
                   where=None) -> DataFrame:
        """The Spark tier's one evaluator of a prune.Shape other than
        ``synonym`` / ``phrase`` — every MUST / SHOULD bool and every
        dismax — shared by _eval, _eval_bool and WAND, mirroring _hot_rows:
        ONE scored_postings pass per layer for the term clauses — layer j
        scores the j-th occurrence of every term, so a query that repeats
        no term is one pass (Lucene's BooleanScorer walks all clause
        postings at once, search/BooleanScorer.java:262-285) — plus one
        _eval per other clause, then one _combine per doc, then the outer
        boost. A single term needs no combine. Without ``needs_scores`` a
        SHOULD clause scores 1.0 (MUST clauses always score, as in the
        reference). ``keep`` is WAND's block test and ``where`` a block
        predicate (its θ probe)."""
        stats = self.term_stats(shape.terms)
        keys = self._shape_keys(shape, stats)
        if ((not keys and not shape.others)
                or any(t not in stats for t in shape.terms[:shape.must])):
            return self._empty()
        layers: List[Dict[str, Tuple[Optional[BM25Scorer], bool]]] = []
        seen: Dict[str, int] = {}
        for i, (t, key) in enumerate(keys):
            j = seen[t] = seen.get(t, -1) + 1
            if j == len(layers):
                layers.append({})
            is_must = i < shape.must  # MUST terms lead, and all are present
            sc = self._scorer(key) if needs_scores or is_must else None
            layers[j][t] = (sc, is_must)

        def scored(layer: dict, must=None) -> DataFrame:
            blocks = self._postings_for(sorted(layer))
            if where is not None:
                blocks = blocks.filter(where)
            scorers = {t: sc for t, (sc, _m) in layer.items() if sc is not None}
            return scored_postings(blocks, scorers, keep, must)

        if len(keys) == 1 and shape.kind != "bool" and not shape.others:
            (t, (sc, _m)), = layers[0].items()
            st = stats[t]
            if st.doc_freq == 1:
                # singleton pulsing fast path: posting inlined in the terms table
                s1 = 1.0 if sc is None else float(sc.score(
                    np.array([st.singleton_freq]), np.array([st.singleton_norm]))[0])
                out = self.spark.createDataFrame([(st.singleton_doc_id, s1)], MATCH_SCHEMA)
            else:
                out = scored(layers[0])
        else:
            parts = [scored(lay, [t for t, (_s, m) in lay.items() if m]) for lay in layers]
            parts += [self._eval(sq, needs_scores or req).select(
                "doc_id", "score", F.lit(int(req)).alias("is_must"))
                for sq, req in shape.others]
            n_must = shape.must + sum(req for _q, req in shape.others)
            out = _combine(parts, n_must, shape.msm, shape.tie)
        if shape.boost != 1.0:
            out = out.select("doc_id", (F.col("score") * F.lit(float(shape.boost))).alias("score"))
        return out

    def _eval_synonym(self, q: SynonymQuery) -> DataFrame:
        """SynonymQuery: terms scored as one pseudo-term — max docFreq for idf,
        per-doc summed tf (search/SynonymQuery.java)."""
        stats = self.term_stats(q.terms)
        if not stats:
            return self._empty()
        scorer = self.scorer_for(q.boost, _synonym_stats(stats))
        raw = self.decode_raw(list(stats))
        agg = raw.groupBy("doc_id").agg(
            F.sum("freq").alias("freq"), F.first("norm").alias("norm")
        )
        return self._score_freq_norm(agg, scorer)

    def _score_freq_norm(self, df: DataFrame, scorer: BM25Scorer) -> DataFrame:
        @F.pandas_udf("double")
        def sc(freq: pd.Series, norm: pd.Series) -> pd.Series:
            return pd.Series(
                scorer.score(freq.to_numpy(np.float64), norm.to_numpy(np.int64)).astype(
                    np.float64
                )
            )

        return df.select("doc_id", sc(F.col("freq"), F.col("norm")).alias("score"))

    def _eval_bool(self, q: BooleanQuery, needs_scores: bool) -> DataFrame:
        """The FILTER / MUST_NOT joins and the outer boost around the one
        combine of the MUST / SHOULD clauses (_eval_flat); a bool of
        FILTER clauses alone scores 1.0 per match."""
        from .prune import _flat_term_clauses

        scoring = tuple(c for c in q.clauses if c.occur in (Occur.MUST, Occur.SHOULD))
        filters = [c.query for c in q.clauses if c.occur == Occur.FILTER]
        must_not = [c.query for c in q.clauses if c.occur == Occur.MUST_NOT]
        if scoring:
            shape = _flat_term_clauses(dataclasses.replace(q, clauses=scoring, boost=1.0))
            base = self._eval_flat(shape, needs_scores)
        elif filters:
            base = self._docset(filters[0]).withColumn("score", F.lit(1.0))
            filters = filters[1:]
        else:
            return self._empty()

        # lead cost for the cache's skip factor = the scoring side's
        # cheapest iterator (ScorerSupplier.get's leadCost role)
        lead_costs = [self._driver_cost(c.query) for c in scoring]
        lead_cost = (
            min(c for c in lead_costs if c is not None)
            if any(c is not None for c in lead_costs)
            else None
        )
        for sq in filters:
            base = base.join(
                self._docset(sq, lead_cost=lead_cost), "doc_id", "left_semi"
            )
        for nq in must_not:
            base = base.join(
                self._docset(nq, lead_cost=lead_cost), "doc_id", "left_anti"
            )
        if q.boost != 1.0:
            base = base.withColumn("score", F.col("score") * F.lit(float(q.boost)))
        return base

    def _eval_phrase(self, q: PhraseQuery) -> DataFrame:
        """PhraseQuery with Lucene-parity scoring: idf summed over query
        terms; freq from ExactPhraseMatcher (slop=0, start-position count,
        repeats allowed) or SloppyPhraseMatcher (slop>0, Σ 1/(1+matchLength)
        over the PQ walk — search/SloppyPhraseMatcher.java). Matching is
        batch-vectorized in matchers.py: one offset-intersection / merged
        sweep per Arrow batch, no per-doc Python loop in the hot path."""
        terms = list(q.terms)
        stats = self.term_stats(terms)
        if any(t not in stats for t in terms):
            return self._empty()
        scorer = self.multi_scorer_for(q.boost, [stats[t] for t in terms])
        raw = self.decode_raw(sorted(set(terms)), with_positions=True)
        slop = int(q.slop)
        terms_t = tuple(terms)

        def phrase_freq(by_term, n_docs):
            if slop == 0:
                return matchers.exact_phrase_freqs(by_term, terms_t, n_docs)
            return matchers.sloppy_phrase_freqs(by_term, terms_t, slop, n_docs)

        scored = position_freqs(raw, terms, len(set(terms)), phrase_freq)
        return self._score_freq_norm(scored, scorer)

    def _eval_term_automaton(self, q) -> DataFrame:
        """TermAutomatonQuery (sandbox/search/TermAutomatonScorer.java:
        221-345): per doc, run the determinized automaton over the
        query-term position stream — a LITERAL port of countMatches: the
        position queue pops (pos, term) events in order; ANY arcs advance
        pending states across position gaps (petering out when a gap
        position holds no states, :266-291); each event steps the pending
        states at its position plus a fresh start from state 0, counting
        every entry into an accept state (:305-327). Scoring is
        phrase-style: idf sums over the automaton's indexed terms
        (TermAutomatonQuery.java:378-398), freq from the kernel."""
        if q.dfa is None:
            raise ValueError("TermAutomatonQuery.finish() not called")
        terms = list(q.terms)
        if not terms:
            return self._empty()
        stats = self.term_stats(terms)
        present = [t for t in terms if t in stats]
        if not present:
            return self._empty()
        scorer = self.multi_scorer_for(q.boost, [stats[t] for t in present])
        raw = self.decode_raw(present, with_positions=True)
        dfa, accepts = dict(q.dfa), set(q.dfa_accepts)
        has_any = any(t is None for _s, t in dfa.keys())

        def ta_freq(by_term, n_docs):
            out = np.zeros(n_docs, dtype=np.float64)
            for i in range(n_docs):
                events = sorted(
                    (int(p), t)
                    for t, col in by_term.items() if col[i] is not None
                    for p in col[i]
                )
                freq = 0
                positions: dict = {}
                last_pos = -1
                for pos, tid in events:
                    if last_pos != -1 and has_any:
                        start_last = last_pos
                        while last_pos < pos:
                            cur = positions.get(last_pos, ())
                            if not cur and last_pos > start_last:
                                last_pos = pos
                                break
                            nxt = positions.setdefault(last_pos + 1, [])
                            for st in cur:
                                s2 = dfa.get((st, None))
                                if s2 is not None:
                                    nxt.append(s2)
                            last_pos += 1
                    cur = positions.get(pos, ())
                    nxt = positions.setdefault(pos + 1, [])
                    for st in cur:
                        s2 = dfa.get((st, tid))
                        if s2 is not None:
                            nxt.append(s2)
                            if s2 in accepts:
                                freq += 1
                    s2 = dfa.get((0, tid))
                    if s2 is not None:
                        nxt.append(s2)
                        if s2 in accepts:
                            freq += 1
                    last_pos = pos
                out[i] = float(freq)
            return out

        return self._score_freq_norm(position_freqs(raw, present, 1, ta_freq), scorer)

    # ---------------- explain (IndexSearcher.explain analog) ----------------

    def explain(self, q: Query, doc_id: int) -> "Explanation":
        """Score decomposition for one document — the analog of
        IndexSearcher.explain / Weight.explain (search/Weight.java:83-110).
        The returned tree's root value equals the score matches(q) assigns
        the doc (0 / non-match explanation otherwise)."""
        q = rewrite(q)
        if isinstance(q, TermQuery):
            return self._explain_term(q, doc_id)
        if isinstance(q, BooleanQuery):
            details = []
            total = 0.0
            ok = True
            musts = [c.query for c in q.clauses if c.occur == Occur.MUST]
            shoulds = [c.query for c in q.clauses if c.occur == Occur.SHOULD]
            for sq in musts:
                e = self.explain(sq, doc_id)
                details.append(e)
                if not e.matched:
                    ok = False
                total += e.value
            n_should = 0
            for sq in shoulds:
                e = self.explain(sq, doc_id)
                if e.matched:
                    details.append(e)
                    total += e.value
                    n_should += 1
            filters_only = not musts and not shoulds and any(
                c.occur == Occur.FILTER for c in q.clauses
            )
            if filters_only:
                total = 1.0  # constant-score filter-only boolean (_eval_bool)
            elif musts == [] and n_should < max(q.minimum_should_match, 1):
                ok = False
            if q.minimum_should_match > 0 and n_should < q.minimum_should_match:
                ok = False
            for c in q.clauses:
                if c.occur == Occur.FILTER:
                    e = self.explain(c.query, doc_id)
                    if not e.matched:
                        ok = False
                    details.append(Explanation(0.0, "filter clause", (e,), e.matched))
                if c.occur == Occur.MUST_NOT:
                    e = self.explain(c.query, doc_id)
                    if e.matched:
                        ok = False
            if not ok:
                return Explanation(0.0, "no match (boolean constraints)", tuple(details), False)
            total *= float(q.boost)
            return Explanation(
                total, f"sum of clause scores, boost {q.boost}", tuple(details), True
            )
        # generic fallback: evaluate and look the doc up
        rows = (
            self.matches(q).filter(F.col("doc_id") == int(doc_id)).collect()
        )
        if not rows:
            return Explanation(0.0, f"no match ({type(q).__name__})", (), False)
        return Explanation(
            float(rows[0]["score"]), f"{type(q).__name__} score", (), True
        )

    def _explain_term(self, q: TermQuery, doc_id: int) -> "Explanation":
        from .bm25 import idf as bm25_idf

        st = self.term_stats([q.term]).get(q.term)
        if st is None:
            return Explanation(0.0, f"term '{q.term}' not in index", (), False)
        rows = (
            self.decode_raw([q.term])
            .filter(F.col("doc_id") == int(doc_id))
            .collect()
        )
        if not rows:
            return Explanation(
                0.0, f"term '{q.term}' absent from doc {doc_id}", (), False
            )
        freq, norm = int(rows[0]["freq"]), int(rows[0]["norm"])
        scorer = self.scorer_for(q.boost, st)
        score = float(scorer.score(np.array([freq]), np.array([norm]))[0])
        n = self.index.stats.doc_count
        idf_v = float(bm25_idf(st.doc_freq, n, dtype=self.dtype))
        return Explanation(
            score,
            f"score(term='{q.term}', doc={doc_id}), BM25",
            (
                Explanation(float(q.boost), "boost", (), True),
                Explanation(
                    idf_v,
                    f"idf, docFreq={st.doc_freq}, docCount={n}", (), True,
                ),
                Explanation(float(freq), "freq within doc", (), True),
                Explanation(
                    float(norm), "norm byte (quantized doc length)", (), True
                ),
            ),
            True,
        )

    # ---------------- derived query builders ----------------

    def common_terms(
        self, terms: Sequence[str], max_term_frequency: float = 0.01,
        boost: float = 1.0,
    ) -> Query:
        """CommonTermsQuery (queries/.../CommonTermsQuery.java) analog: terms
        with docFreq > max_term_frequency * docCount are demoted to SHOULD
        (scoring-only), rare terms stay MUST. Absent terms are dropped; if no
        rare term remains the hot terms form a pure disjunction."""
        from .query import bool_query

        stats = self.term_stats(list(terms))
        cutoff = max_term_frequency * self.index.stats.doc_count
        low = [t for t in terms if t in stats and stats[t].doc_freq <= cutoff]
        high = [t for t in terms if t in stats and stats[t].doc_freq > cutoff]
        return bool_query(
            must=[TermQuery(term=t) for t in low],
            should=[TermQuery(term=t) for t in high],
            boost=boost,
        )

    def fuzzy_like_this(
        self,
        query_string: str,
        max_edits: int = 1,
        prefix_length: int = 0,
        max_num_terms: int = 25,
        max_variants_per_term: int = 50,
        analyze=None,
    ) -> Query:
        """FuzzyLikeThisQuery (sandbox/queries/FuzzyLikeThisQuery.java:
        191-335), the ignoreTF=true configuration: per distinct analyzed
        word, fuzzy-expand against the dictionary (FuzzyTermsEnum boost =
        1 - dist/min(|w|,|t|)), keep the best ``max_variants_per_term``
        (score desc, term asc — ScoreTermQueue order); the word's idf
        uses its OWN docFreq, or the INTEGER-DIVISION average of all
        variant docFreqs when unindexed (:238-242); each kept variant is
        rescored score² · idf (ClassicSimilarity idf, :250) and the best
        ``max_num_terms`` across all words become SHOULD constant-score
        clauses grouped per source word (:311-330). Boost arithmetic runs
        in the searcher's score dtype (f32 = reference parity, f64 =
        oracle mode). The expansion is two bounded driver fetches per
        word (top-k over the band-pruned, optionally q-gram-pruned
        candidate scan)."""
        if analyze is None:
            from .analysis import standard_analyze

            analyze = standard_analyze
        dt = self.dtype
        n_docs = self.index.stats.doc_count
        words = list(dict.fromkeys(analyze(query_string)))
        stats = self.term_stats(words)
        selected: List[tuple] = []  # (score, term, source_word)
        for w in words:
            fq = FuzzyQuery(
                term=w, max_edits=int(max_edits),
                prefix_length=int(prefix_length),
            )
            cand = self._terms_scan(fq).filter(
                self._multi_term_cond(fq)
            ).select("term", "doc_freq")
            agg = cand.agg(
                F.count("*").alias("nv"), F.sum("doc_freq").alias("tdf")
            ).collect()[0]
            n_variants = int(agg["nv"] or 0)
            if n_variants == 0:
                continue
            wlen = len(w)

            @F.pandas_udf("double")
            def sim_col(t: pd.Series) -> pd.Series:
                from .editdist import osa_distances

                vals = t.tolist()
                d = osa_distances(vals, w).astype(np.float64)
                lens = np.array(
                    [min(wlen, len(x)) for x in vals], dtype=np.float64
                )
                return pd.Series(
                    (dt(1.0) - (d.astype(dt) / np.maximum(lens, 1).astype(dt))
                     ).astype(np.float64)
                )

            rows = (
                cand.withColumn("__sim", sim_col(F.col("term")))
                .orderBy(F.desc("__sim"), F.asc("term"))
                .limit(int(max_variants_per_term))
                .collect()
            )
            st = stats.get(w)
            df_w = st.doc_freq if st is not None else 0
            if df_w == 0:
                df_w = int(agg["tdf"]) // n_variants  # integer division
            idf = dt(np.log((n_docs + 1) / float(df_w + 1)) + 1.0)
            for r in rows:
                s = dt(r["__sim"])
                selected.append((float(dt(dt(s * s) * idf)), r["term"], w))
        if not selected:
            return MatchNoDocsQuery(reason="no fuzzy variants found")
        selected.sort(key=lambda t: (-t[0], t[1]))
        selected = selected[: int(max_num_terms)]
        by_word: Dict[str, list] = {}
        for score, term, w in selected:
            by_word.setdefault(w, []).append((score, term))
        clauses = []
        for w, variants in by_word.items():
            subs = [
                ConstantScoreQuery(boost=score, query=TermQuery(term=term))
                for score, term in variants
            ]
            if len(subs) == 1:
                clauses.append(BooleanClause(subs[0], Occur.SHOULD))
            else:
                clauses.append(
                    BooleanClause(
                        BooleanQuery(
                            clauses=tuple(
                                BooleanClause(s, Occur.SHOULD) for s in subs
                            )
                        ),
                        Occur.SHOULD,
                    )
                )
        return BooleanQuery(clauses=tuple(clauses))

    def more_like_this(
        self, text: str, max_query_terms: int = 5, min_doc_freq: int = 2,
        boost: float = 1.0, boost_terms: bool = False,
        boost_factor: float = 1.0,
    ) -> Query:
        """MoreLikeThis (queries/mlt/MoreLikeThis.java) analog: analyze the
        example text, rank its terms by tf * idf (our BM25 idf, float64),
        keep the top max_query_terms (ties broken by ascending term), and
        return their disjunction. With ``boost_terms`` each clause carries
        the reference's interestingness boost — boostFactor * score /
        bestScore (MoreLikeThis.createQuery's setBoost(true) path; the
        reference default is boost=false, matching ours)."""
        from .analysis import flat_tokenize
        from .query import MatchNoDocsQuery, bool_query

        flat, _counts = flat_tokenize(pd.Series([text]), chain=self.index.config.chain)
        tf: Dict[str, int] = {}
        for t in flat:
            tf[t] = tf.get(t, 0) + 1
        stats = self.term_stats(list(tf))
        n = self.index.stats.doc_count
        ranked = []
        for t, f in tf.items():
            st = stats.get(t)
            if st is None or st.doc_freq < min_doc_freq:
                continue
            idf = np.log(1.0 + (n - st.doc_freq + 0.5) / (st.doc_freq + 0.5))
            ranked.append((-f * idf, t))
        ranked.sort()
        chosen = ranked[:max_query_terms]
        if not chosen:
            return MatchNoDocsQuery(reason="mlt: no usable terms")
        if boost_terms:
            best = -chosen[0][0]
            clauses = [
                TermQuery(term=t, boost=float(boost_factor * (-s) / best))
                for s, t in chosen
            ]
        else:
            clauses = [TermQuery(term=t) for _s, t in chosen]
        return bool_query(should=clauses, boost=boost)

    def _eval_multi_phrase(self, q: MultiPhraseQuery) -> DataFrame:
        """MultiPhraseQuery: slot i matches any alternative at start+i; freq =
        number of distinct start positions (search/MultiPhraseQuery.java —
        UnionPostingsEnum per slot + exact phrase matcher); idf summed over
        every term in every slot, like the Weight's allTermStats. slop > 0
        (MultiPhraseQuery.setSlop → SloppyPhraseMatcher over
        UnionPostingsEnum streams) feeds the per-slot unions to the
        repeat-aware walk — alternatives shared between slots take the
        reference's hasMultiTermRpts path (tpPos collisions, collide-chase
        init; see matchers.sloppy_multi_phrase_freqs)."""
        slots = tuple(tuple(s) for s in q.slots)
        all_terms = [t for s in slots for t in s]
        stats = self.term_stats(all_terms)
        # a slot with no indexed alternative can never match
        for s in slots:
            if not any(t in stats for t in s):
                return self._empty()
        scorer = self.multi_scorer_for(
            q.boost, [stats[t] for t in all_terms if t in stats]
        )
        present = [t for t in dict.fromkeys(all_terms) if t in stats]
        slop = int(q.slop)

        def mp_freq(by_term, n_docs):
            # absent-in-index alternatives never contribute positions
            if slop > 0:
                return matchers.sloppy_multi_phrase_freqs(by_term, slots, slop, n_docs)
            by_slot = _slot_position_lists(by_term, slots, n_docs)
            out = np.zeros(n_docs, dtype=np.int32)
            for i in range(n_docs):
                lists = [col[i] for col in by_slot]
                if any(p is None for p in lists):
                    continue
                cands = lists[0]
                for off, p in enumerate(lists[1:], 1):
                    cands = np.intersect1d(cands, p - off)
                out[i] = int((cands >= 0).sum())
            return out

        raw = self.decode_raw(sorted(present), with_positions=True)
        scored = position_freqs(raw, all_terms, 1, mp_freq)
        return self._score_freq_norm(scored, scorer)

    def _eval_span_near(self, q: SpanNearQuery) -> DataFrame:
        """SpanNearQuery parity (search/spans/NearSpansOrdered.java greedy
        monotone chains; NearSpansUnordered.java advance-min walk): freq =
        Σ 1/(1 + (endPosition - startPosition)) over span matches
        (SpanScorer.setFreqCurrentDoc). Vectorized via searchsorted chains /
        merged sweeps in matchers.py — bounded memory, no tuple enumeration.
        Duplicate terms are supported for both orders: unordered duplicate
        clauses are interchangeable iterators over one positions list, so
        the reference heap's tie order cannot change the visited states
        (NearSpansUnordered has no repeat machinery)."""
        if any(isinstance(t, FieldMaskedTerm) for t in q.terms):
            # FieldMaskingSpanQuery needs a second field's position source
            raise ValueError(
                "FieldMaskedTerm clauses require a MultiFieldSearcher "
                "(search/spans/FieldMaskingSpanQuery.java)"
            )
        if any(not isinstance(t, str) for t in q.terms):
            # SpanMultiTermQueryWrapper / SpanOr-in-SpanNear clauses
            return self._eval_span_near_slots(q)
        terms = list(q.terms)
        stats = self.term_stats(terms)
        if any(t not in stats for t in terms):
            return self._empty()
        slop = int(q.slop)
        in_order = bool(q.in_order)
        distinct = len(set(terms)) == len(terms)
        terms_t = tuple(terms)
        scorer = self.multi_scorer_for(q.boost, [stats[t] for t in terms])

        def span_freq(by_term, n_docs):
            return _span_near_freqs(
                [by_term[t] for t in terms_t], slop, in_order, n_docs, distinct
            )

        raw = self.decode_raw(sorted(set(terms)), with_positions=True)
        scored = position_freqs(raw, terms, len(set(terms)), span_freq)
        return self._score_freq_norm(scored, scorer)

    def _eval_span_near_slots(self, q: SpanNearQuery) -> DataFrame:
        """SpanNearQuery with multi-term / alternation clauses
        (search/spans/SpanMultiTermQueryWrapper.java — the wrapper rewrites
        a multi-term query to a SpanOr over the matching terms; SpanOr
        nested in SpanNear generally): a clause may be a tuple of
        alternatives or an IntervalMultiTerm expanded against the
        dictionary (cap semantics shared with the interval sources — the
        wrapper's scoring rewrite throws TooManyClauses at its cap the
        same way). A point-term SpanOr's span stream is the sorted union
        of the alternatives' positions, so the slot lists feed the same
        near kernels; alternatives CAN tie across slots, so the unordered
        walk always takes the general tie-transcribing merge. idf sums
        over the DISTINCT matched terms in sorted order (SpanWeight's
        per-term termStates MAP, one entry per term regardless of how
        many clauses matched it)."""
        slots = self._resolve_interval_slots(q.terms)
        all_terms = sorted({t for s in slots for t in s})
        stats = self.term_stats(all_terms)
        if any(all(t not in stats for t in s) for s in slots):
            return self._empty()
        present = [t for t in all_terms if t in stats]
        scorer = self.multi_scorer_for(q.boost, [stats[t] for t in present])
        slop, in_order = int(q.slop), bool(q.in_order)
        # absent alternatives drop out of their slot (a SpanOr clause with
        # df=0 contributes no spans); slots stay non-empty per the check
        slots_t = tuple(tuple(t for t in s if t in stats) for s in slots)

        def span_freq(by_term, n_docs):
            by_slot = _slot_position_lists(by_term, slots_t, n_docs)
            return _span_near_freqs(by_slot, slop, in_order, n_docs, False)

        raw = self.decode_raw(present, with_positions=True)
        scored = position_freqs(raw, present, _slot_min_keys(slots_t), span_freq)
        return self._score_freq_norm(scored, scorer)

    def _eval_intervals(self, q: IntervalQuery) -> DataFrame:
        """IntervalQuery (queries/intervals): minimal ordered/unordered
        intervals via the vectorized staircase kernels in matchers.py; freq
        and the saturation score per IntervalScorer/IntervalScoreFunction —
        no norms, no idf (interval scoring is similarity-free).

        Duplicate terms follow the reference's deduplication
        (Ordered/UnorderedIntervalsSource.deduplicate): ordered collapses
        ADJACENT equal sources, unordered collapses ALL equal sources, each
        into a RepeatingIntervalsSource sliding window whose minExtent is
        its child's — so minExtent = run count (ordered) / distinct-term
        count (unordered), while maxgaps keeps counting every position.

        A terms entry may be a TUPLE of alternatives — Intervals.or over
        term sources nested in the ordered/unordered parent
        (DisjunctionIntervalsSource): a point-union's minimal intervals are
        just the union of positions, so each slot's position list is the
        sorted merge of its alternatives (slot minExtent 1, like the
        disjunction's min over subs). Multi-alternative slots skip the
        duplicate-source rewrites (distinct slots assumed)."""
        slots = self._resolve_interval_slots(q.terms)
        multi_alt = any(len(s) != 1 for s in slots)
        flat_terms = [t for s in slots for t in s]
        stats = self.term_stats(flat_terms)
        if any(all(t not in stats for t in s) for s in slots):
            return self._empty()
        if multi_alt:
            return self._eval_intervals_slots(q, slots)
        terms = [s[0] for s in slots]  # resolved single-alternative slots
        ordered, max_gaps = bool(q.ordered), int(q.max_gaps)
        max_width = int(getattr(q, "max_width", -1))
        terms_t = tuple(terms)
        # adjacent-run dedup (ordered): each run contributes minExtent 1
        min_extent = 1 + sum(
            1 for i in range(1, len(terms)) if terms[i] != terms[i - 1]
        )
        counts: Dict[str, int] = {}
        for t in terms:
            counts[t] = counts.get(t, 0) + 1
        has_dups = len(set(terms)) != len(terms)

        def iv_freq(by_term, n_docs):
            if ordered:
                return matchers.interval_freqs(
                    [by_term[t] for t in terms_t],
                    True,
                    max_gaps,
                    n_docs,
                    min_extent=min_extent,
                    max_width=max_width,
                )
            if has_dups:
                return matchers.unordered_intervals_dups_freqs(
                    by_term, counts, max_gaps, n_docs, max_width=max_width
                )
            return matchers.interval_freqs(
                [by_term[t] for t in terms_t], False, max_gaps, n_docs,
                max_width=max_width,
            )

        raw = self.decode_raw(sorted(set(terms)), with_positions=True)
        scored = position_freqs(raw, terms, len(set(terms)), iv_freq)
        return self._interval_saturation(scored, q.boost, q.pivot)

    def _eval_span_contain(self, q: "SpanContainQuery") -> DataFrame:
        """SpanContainingQuery / SpanWithinQuery: per doc, enumerate each
        operand's actual span stream (term points, NearSpansOrdered greedy
        chains, NearSpansUnordered matching states — matchers.py), then run
        the reference's two-pointer containment cursor. Docs need every
        term of both operands (ConjunctionSpans approximation); freq =
        Σ 1/(1+(end-start)) over the emitted source spans; idf summed over
        the distinct operand terms in sorted order (SpanWeight builds its
        scorer from the term-sorted states map)."""
        big_spec = _span_spec(q.big, "span contain")
        little_spec = _span_spec(q.little, "span contain")
        all_terms = sorted({t for s in (big_spec, little_spec) for t in s[1]})
        stats = self.term_stats(all_terms)
        if any(t not in stats for t in all_terms):
            return self._empty()
        scorer = self.multi_scorer_for(q.boost, [stats[t] for t in all_terms])
        kind = "containing" if q.kind == "containing" else "within"

        def contain_freq(by_term, n_docs):
            out = np.zeros(n_docs, dtype=np.float64)
            for d in range(n_docs):
                bs, be = _doc_spans(big_spec, by_term, d)
                ls, le = _doc_spans(little_spec, by_term, d)
                if len(bs) == 0 or len(ls) == 0:
                    continue
                es, ee = matchers.span_contain_filter(kind, bs, be, ls, le)
                if len(es):
                    out[d] = _span_weight(es, ee)
            return out

        raw = self.decode_raw(all_terms, with_positions=True)
        scored = position_freqs(raw, all_terms, len(all_terms), contain_freq)
        return self._score_freq_norm(scored, scorer)

    def _eval_intervals_slots(self, q: IntervalQuery, slots) -> DataFrame:
        """IntervalQuery with OR-alternation slots: per slot, the minimal
        intervals of Intervals.or over point terms are the sorted union of
        the alternatives' positions; the ordered/unordered staircases then
        run on per-slot point lists unchanged. minExtent = slot count."""
        ordered, max_gaps = bool(q.ordered), int(q.max_gaps)
        max_width = int(getattr(q, "max_width", -1))
        slots_t = tuple(tuple(s) for s in slots)
        all_terms = sorted({t for s in slots_t for t in s})

        def ivs_freq(by_term, n_docs):
            return matchers.interval_freqs(
                _slot_position_lists(by_term, slots_t, n_docs), ordered,
                max_gaps, n_docs, min_extent=len(slots_t), max_width=max_width,
            )

        raw = self.decode_raw(all_terms, with_positions=True)
        scored = position_freqs(raw, all_terms, 1, ivs_freq)
        return self._interval_saturation(scored, q.boost, q.pivot)

    def _resolve_interval_slots(self, terms) -> list:
        """Normalize IntervalQuery/AtLeastIntervalQuery term entries to
        tuples of point-term alternatives: a bare term, an explicit
        Intervals.or tuple, or an IntervalMultiTerm expanded against the
        terms dictionary (MultiTermIntervalsSource)."""
        slots = []
        for t in terms:
            if isinstance(t, IntervalMultiTerm):
                slots.append(self._expand_interval_multiterm(t))
            elif isinstance(t, FieldMaskedTerm):
                raise NotImplementedError(
                    "Intervals.fixField slots require a MultiFieldSearcher "
                    "(a single-field Searcher has no other position source)"
                )
            elif isinstance(t, (tuple, list)):
                slots.append(tuple(t))
            else:
                slots.append((t,))
        return slots

    def _expand_interval_multiterm(self, mt: IntervalMultiTerm) -> tuple:
        """Expand a prefix/wildcard/fuzzy interval source against the terms
        dictionary (queries/intervals/Intervals.java prefix()/wildcard()/
        fuzzyTerm() → MultiTermIntervalsSource): the automaton predicate is
        pushed into the terms-table Parquet scan and the driver collects at
        most max_expansions + 1 terms — the reference throws once the
        expansion passes the cap (IllegalStateException, default 128), so
        the driver round-trip is bounded by contract at any corpus size."""
        if mt.kind == "prefix":
            proto: Query = PrefixQuery(prefix=mt.pattern)
        elif mt.kind == "wildcard":
            proto = WildcardQuery(pattern=mt.pattern)
        elif mt.kind == "fuzzy":
            proto = FuzzyQuery(
                term=mt.pattern,
                max_edits=mt.max_edits,
                prefix_length=mt.prefix_length,
                transpositions=mt.transpositions,
            )
        elif mt.kind == "regexp":
            # Intervals.multiterm(CompiledAutomaton, pattern)
            # (Intervals.java:196-220) with a Lucene RegExp automaton
            proto = RegexpQuery(regexp=mt.pattern)
        else:
            raise ValueError(f"unknown IntervalMultiTerm kind {mt.kind!r}")
        cap = int(mt.max_expansions)
        rows = (
            self._terms_scan(proto).filter(self._multi_term_cond(proto))
            .select("term")
            .distinct()
            .limit(cap + 1)
            .collect()
        )
        if len(rows) > cap:
            raise ValueError(
                f"interval source {mt.kind}({mt.pattern!r}) expanded to more "
                f"than {cap} terms "
                "(Intervals.DEFAULT_MAX_EXPANSIONS semantics)"
            )
        return tuple(sorted(r["term"] for r in rows))

    def _eval_intervals_ext(self, q: ExtendedIntervalQuery) -> DataFrame:
        """Intervals.extend(source, before, after)
        (queries/intervals/ExtendedIntervalsSource.java): the wrapped
        ordered/unordered source's minimal intervals — maxgaps applied
        first — stretch to (max(start - before, 0), end + after) with
        minExtent grown by before + after
        (matchers.extended_interval_freqs). Source slots may be bare terms,
        Intervals.or tuples, or multi-term expansions; duplicate point
        terms inside the source are out of scope here and raise (wrap the
        deduplicating IntervalQuery path instead)."""
        src = q.source
        slots = self._resolve_interval_slots(src.terms)
        flat = [t for s in slots for t in s]
        if len(set(flat)) != len(flat):
            raise NotImplementedError(
                "duplicate terms inside an extended interval source"
            )
        stats = self.term_stats(flat)
        if any(all(t not in stats for t in s) for s in slots):
            return self._empty()
        ordered, max_gaps = bool(src.ordered), int(src.max_gaps)
        before, after = int(q.before), int(q.after)
        slots_t = tuple(tuple(s) for s in slots)
        all_terms = sorted({t for s in slots_t for t in s})

        def ext_freq(by_term, n_docs):
            return matchers.extended_interval_freqs(
                _slot_position_lists(by_term, slots_t, n_docs),
                ordered,
                max_gaps,
                n_docs,
                before,
                after,
                min_extent=len(slots_t),
            )

        raw = self.decode_raw(all_terms, with_positions=True)
        scored = position_freqs(raw, all_terms, 1, ext_freq)
        return self._interval_saturation(scored, q.boost, q.pivot)

    def _eval_intervals_atleast(self, q: AtLeastIntervalQuery) -> DataFrame:
        """Intervals.atLeast(minShouldMatch, sources...)
        (queries/intervals/MinimumShouldMatchIntervalsSource.java): minimal
        windows covering at least m of the point slots
        (matchers.atleast_interval_freqs). A doc is a candidate once it
        holds m distinct slots, so the positions pre-group prunes on
        min_keys = m when every slot is a single term."""
        m = int(q.min_should_match)
        slots = self._resolve_interval_slots(q.terms)
        if not (1 <= m <= len(slots)):
            raise ValueError(
                f"min_should_match {m} out of range for {len(slots)} sources"
            )
        flat = [t for s in slots for t in s]
        if len(set(flat)) != len(flat):
            raise NotImplementedError(
                "duplicate terms across atLeast interval sources"
            )
        stats = self.term_stats(flat)
        present = sum(1 for s in slots if any(t in stats for t in s))
        if present < m:
            return self._empty()
        max_gaps = int(q.max_gaps)
        slots_t = tuple(tuple(s) for s in slots)
        all_terms = sorted({t for s in slots_t for t in s})
        single = all(len(s) == 1 for s in slots_t)

        def al_freq(by_term, n_docs):
            return matchers.atleast_interval_freqs(
                _slot_position_lists(by_term, slots_t, n_docs), m, max_gaps, n_docs
            )

        raw = self.decode_raw(all_terms, with_positions=True)
        scored = position_freqs(raw, all_terms, m if single else 1, al_freq)
        return self._interval_saturation(scored, q.boost, q.pivot)

    def _interval_saturation(self, scored: DataFrame, boost, pivot) -> DataFrame:
        """score = boost * (1 - pivot/(freq + pivot))
        (IntervalScoreFunction.java:56-75)."""
        pivot = float(pivot)
        return scored.select(
            "doc_id",
            (
                F.lit(float(boost))
                * (F.lit(1.0) - F.lit(pivot) / (F.col("freq") + F.lit(pivot)))
            ).alias("score"),
        )

    def _eval_interval_filter(self, q: "IntervalFilterQuery") -> DataFrame:
        """Interval filter algebra (Containing/ContainedBy/NotContaining/
        NotContainedBy/Overlapping/NonOverlapping IntervalsSources +
        Intervals.before/after): each streaming filter loop reduces to one
        searchsorted over the two minimal-interval streams — vectorized in
        matchers.interval_filter_freqs. Operand slots follow the
        IntervalQuery conventions: bare terms, Intervals.or alternation
        tuples (the slot stream = sorted union of the alternatives'
        positions), or IntervalMultiTerm expansions; duplicate SLOTS
        inside one operand are out of scope and raise."""
        src, ref = q.source, q.reference
        src_slots = self._resolve_interval_slots(src.terms)
        ref_slots = self._resolve_interval_slots(ref.terms)
        for slots in (src_slots, ref_slots):
            if len({tuple(s) for s in slots}) != len(slots):
                raise NotImplementedError(
                    "duplicate slots inside an interval filter operand"
                )
        src_terms = [t for s in src_slots for t in s]
        ref_terms = [t for s in ref_slots for t in s]
        stats = self.term_stats(src_terms + ref_terms)
        if any(all(t not in stats for t in s) for s in src_slots):
            return self._empty()
        conj = q.kind in {
            "containing", "contained_by", "overlapping", "before", "after",
            "within",
        }
        if conj and any(all(t not in stats for t in s) for s in ref_slots):
            return self._empty()
        all_terms = sorted({t for t in src_terms + ref_terms})
        singles = all(len(s) == 1 for s in src_slots + ref_slots)
        if singles:
            min_keys = (
                len(all_terms) if conj else len({s[0] for s in src_slots})
            )
        else:
            min_keys = 1  # alternation slots: membership decided in-kernel
        kind = q.kind
        b_ext = int(q.positions) if kind in ("within", "not_within") else 0
        sslots_t = tuple(tuple(s) for s in src_slots)
        rslots_t = tuple(tuple(s) for s in ref_slots)
        s_ord, s_mg = bool(src.ordered), int(src.max_gaps)
        r_ord, r_mg = bool(ref.ordered), int(ref.max_gaps)
        s_mw = int(getattr(src, "max_width", -1))
        r_mw = int(getattr(ref, "max_width", -1))

        def ivf_freq(by_term, n_docs):
            by_slot = _slot_position_lists(by_term, sslots_t + rslots_t, n_docs)
            return matchers.interval_filter_freqs(
                kind,
                by_slot[: len(sslots_t)],
                s_ord,
                s_mg,
                by_slot[len(sslots_t):],
                r_ord,
                r_mg,
                n_docs,
                b_ext=b_ext,
                a_max_width=s_mw,
                b_max_width=r_mw,
            )

        raw = self.decode_raw(all_terms, with_positions=True)
        scored = position_freqs(raw, all_terms, min_keys, ivf_freq)
        return self._interval_saturation(scored, q.boost, q.pivot)

    def _expression_scores(
        self, df: DataFrame, expression: str, bindings, boost: float = 1.0,
        guard: bool = True,
    ) -> DataFrame:
        """Evaluate a compiled expression over a (doc_id, score) frame:
        SCORE binds the frame's score column, doc-values columns join the
        stored docs projection once, Query bindings left-join sub-scores
        (0.0 when unmatched — DoubleValuesSource.fromQuery). With
        ``guard``, missing/negative/NaN values score 0 (FunctionScoreQuery
        scorer); NaN is excluded explicitly because Catalyst ORDERS NaN
        above every double (NaN >= 0 is true), unlike Java's always-false
        NaN comparisons."""
        from .expressions import SCORE, compile_expression

        expr = compile_expression(expression)
        binds = dict(bindings)
        missing = [v for v in expr.variables if v not in binds]
        if missing:
            raise ValueError(f"unbound expression variables: {missing}")
        cols: Dict[str, F.Column] = {}
        doc_cols = []
        for i, (var, src) in enumerate(bindings):
            if src == SCORE:
                cols[var] = F.col("score")
            elif isinstance(src, Query):
                sub = self._eval(src, needs_scores=True).select(
                    "doc_id", F.col("score").alias(f"__fs{i}")
                )
                df = df.join(sub, "doc_id", "left")
                cols[var] = F.coalesce(F.col(f"__fs{i}"), F.lit(0.0))
            else:
                if src not in self.index.docs.columns:
                    raise ValueError(f"unknown doc-values column {src!r}")
                doc_cols.append(src)
                cols[var] = F.col(src)
        if doc_cols:
            df = df.join(
                self.index.docs.select("doc_id", *sorted(set(doc_cols))),
                "doc_id",
            )
        val = expr.to_column(lambda v: cols[v])
        if guard:
            val = F.when(
                (~F.isnan(val)) & (val >= F.lit(0.0)),
                val * F.lit(float(np.float64(boost))),
            ).otherwise(F.lit(0.0))
        else:
            val = val * F.lit(float(np.float64(boost)))
        return df.select("doc_id", val.alias("score"))

    def _eval_covering(self, q: CoveringQuery) -> DataFrame:
        """CoveringQuery: union the sub-query score frames, count and sum
        per doc, join the Catalyst LongValuesSource expression over the
        stored docs projection, keep docs with count >= max(minimum, 1)
        and a non-null minimum. Everything stays a relational plan — the
        dynamic minimumShouldMatch is one filter predicate."""
        parts = [self._eval(sub, needs_scores=True) for sub in q.queries]
        if not parts:
            return self._empty()
        allm = parts[0]
        for p in parts[1:]:
            allm = allm.unionByName(p)
        agg = allm.groupBy("doc_id").agg(
            F.count("*").alias("__cnt"), F.sum("score").alias("score")
        )
        mins = self.index.docs.selectExpr(
            "doc_id", f"({q.min_match_expr}) AS __mn"
        )
        return (
            agg.join(mins, "doc_id")
            .filter(F.col("__mn").isNotNull())
            .filter(
                F.col("__cnt")
                >= F.greatest(F.col("__mn").cast("long"), F.lit(1))
            )
            .select(
                "doc_id",
                (F.col("score") * F.lit(float(np.float64(q.boost)))).alias(
                    "score"
                ),
            )
        )

    def _eval_index_sort_range(self, q: IndexSortRangeQuery) -> DataFrame:
        """IndexSortSortedNumericDocValuesRangeQuery: when the leading
        index-sort field matches, the value range IS a doc_id interval
        (doc_id = sort rank). One min/max(doc_id) aggregation over the
        pushed-down value predicate finds the interval (the :205-238
        binary search), then the match set is a doc_id-range filter that
        needs no doc-values column at all. No sort match → fallback."""
        srt = self.index.index_sort
        if (
            not srt
            or srt[0] != q.field_col
            or q.field_col not in self.index.docs.columns
        ):
            if q.fallback is None:
                raise ValueError(
                    "index sort does not lead with "
                    f"{q.field_col!r} and no fallback query was given"
                )
            return self._eval(q.fallback, needs_scores=False)
        col = F.col(q.field_col)
        cond = col.isNotNull()
        if q.lower is not None:
            cond = cond & (col >= q.lower)
        if q.upper is not None:
            cond = cond & (col <= q.upper)
        row = (
            self.index.docs.filter(cond)
            .agg(F.min("doc_id"), F.max("doc_id"))
            .collect()[0]
        )
        if row[0] is None:
            return self._empty()
        return self.index.docs.filter(
            (F.col("doc_id") >= int(row[0])) & (F.col("doc_id") <= int(row[1]))
        ).select("doc_id", F.lit(float(np.float32(q.boost))).alias("score"))

    # ---------------- block join (join/ToParentBlockJoinQuery.java) ----

    def _parent_map(self, parents) -> DataFrame:
        """(doc_id, parent_id) for every doc: the smallest parent doc_id
        at or after the doc — Lucene block semantics (children precede
        their parent; BitSet.nextSetBit in ParentApproximation). Parents
        map to themselves. Docs after the last parent (malformed tail)
        get NULL and never join.

        Scale shape: one window partitioned by a doc_id bucket (parallel,
        no global sort) + a tiny per-bucket fixup that crosses bucket
        boundaries via a driver-side suffix-min over #buckets rows — the
        same two-pass pattern as build.assign_doc_ids. Cached + persisted
        per parents-filter (Lucene caches the BitSet per reader)."""
        key = repr(parents)
        if key in self._blockjoin_maps:
            return self._blockjoin_maps[key]
        from pyspark.sql import Window

        bsz = _BLOCKJOIN_BUCKET
        if isinstance(parents, str):
            flags = self.index.docs.select(
                "doc_id", F.expr(parents).alias("__isp")
            )
        else:
            pids = self._eval(parents, needs_scores=False).select(
                "doc_id"
            ).distinct().withColumn("__isp", F.lit(True))
            flags = (
                self.index.docs.select("doc_id")
                .join(pids, "doc_id", "left")
                .fillna({"__isp": False})
            )
        flags = flags.withColumn(
            "__bkt", F.floor(F.col("doc_id") / F.lit(bsz))
        )
        w = (
            Window.partitionBy("__bkt")
            .orderBy(F.col("doc_id").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        within = flags.withColumn(
            "__wp",
            F.min(F.when(F.col("__isp"), F.col("doc_id"))).over(w),
        )
        # driver-side suffix-min of each bucket's first parent (tiny:
        # one row per bucket that contains any parent)
        bmin = (
            flags.filter("__isp")
            .groupBy("__bkt")
            .agg(F.min("doc_id").alias("__fp"))
            .collect()
        )
        # each bucket's fallback = the first parent in any LATER bucket
        # (suffix-min over bucket-first-parents, computed on the driver)
        n_buckets = within.agg(F.max("__bkt")).collect()[0][0]
        by_bucket = {int(r["__bkt"]): int(r["__fp"]) for r in bmin}
        fb_rows = []
        run = None
        for b in range(int(n_buckets or 0), -1, -1):
            fb_rows.append((b, run))
            if b in by_bucket:
                run = by_bucket[b] if run is None else min(run, by_bucket[b])
        fb = self.spark.createDataFrame(
            [(b, v) for b, v in fb_rows], "__bkt long, __fb long"
        )
        pm = (
            within.join(F.broadcast(fb), "__bkt", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("__wp"), F.col("__fb")).alias("parent_id"),
            )
            .persist()
        )
        self._blockjoin_maps[key] = pm
        return pm

    def check_join_index(self, parents) -> None:
        """CheckJoinIndex (join/CheckJoinIndex.java): validate the block
        structure — at least one parent; the LAST doc must be a parent
        (no orphan tail, i.e. no doc maps to a NULL parent); and with
        tombstones, every block must be deleted or live AS A UNIT
        (parent and children share liveness). Raises on violation."""
        pids = self._parents_doc_ids(parents)
        if pids.limit(1).count() == 0:
            raise ValueError(
                "Every index should have at least one parent, but none match"
            )
        pm = self._parent_map(parents)
        if pm.filter(F.col("parent_id").isNull()).limit(1).count() > 0:
            raise ValueError(
                "The last document must always be a parent, but the index "
                "has a child tail (docs with no parent at or after them)"
            )
        tombs = [
            t
            for t in (self.index.deletes, getattr(self.index, "soft_deletes", None))
            if t is not None
        ]
        if not tombs:
            return
        dead = tombs[0].select("doc_id")
        for t in tombs[1:]:
            dead = dead.unionByName(t.select("doc_id"))
        flagged = pm.join(
            dead.distinct().withColumn("__dead", F.lit(True)), "doc_id", "left"
        ).fillna({"__dead": False})
        mixed = (
            flagged.groupBy("parent_id")
            .agg(F.count_distinct("__dead").alias("__n"))
            .filter(F.col("__n") > 1)
        )
        if mixed.limit(1).count() > 0:
            raise ValueError(
                "Parent and children of a block must be deleted together "
                "(CheckJoinIndex: parentIsLive != childIsLive)"
            )

    def _parents_doc_ids(self, parents) -> DataFrame:
        if isinstance(parents, str):
            return self.index.docs.filter(F.expr(parents)).select("doc_id")
        return self._eval(parents, needs_scores=False).select("doc_id").distinct()

    def _eval_to_parent_block_join(self, q: ToParentBlockJoinQuery) -> DataFrame:
        """ToParentBlockJoinQuery: child matches join the parent map, then
        one grouped ordered fold per parent reproduces the reference's
        per-block double accumulation (ToParentBlockJoinQuery.java:
        352-394). A child match on a parent doc raises inside the fold
        (:380-388). ``none`` mirrors the 0-boost constant-score wrap."""
        mode = q.score_mode.lower()
        if mode not in ("none", "avg", "max", "total", "min"):
            raise ValueError(f"unknown ScoreMode {q.score_mode!r}")
        child = self._eval(q.child, needs_scores=(mode != "none"))
        pm = self._parent_map(q.parents)
        joined = (
            child.join(pm, "doc_id")
            .filter(F.col("parent_id").isNotNull())
            .select("doc_id", "score", "parent_id")
        )
        dt = self.dtype

        def agg(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("doc_id")
            if (pdf["doc_id"].to_numpy() == pdf["parent_id"].to_numpy()).any():
                raise ValueError(
                    "Child query must not match same docs with parent "
                    "filter (ToParentBlockJoinQuery.java:382)"
                )
            pid = int(pdf["parent_id"].iloc[0])
            if mode == "none":
                return pd.DataFrame({"doc_id": [pid], "score": [0.0]})
            sc = pdf["score"].to_numpy(np.float64)
            if mode in ("total", "avg"):
                s = 0.0
                for v in sc:  # sequential double adds, doc_id order
                    s += v
                if mode == "avg":
                    s /= len(sc)
            elif mode == "min":
                s = float(sc.min())
            else:
                s = float(sc.max())
            return pd.DataFrame({"doc_id": [pid], "score": [float(dt(s))]})

        return joined.groupBy("parent_id").applyInPandas(agg, MATCH_SCHEMA)

    def _eval_to_child_block_join(self, q: ToChildBlockJoinQuery) -> DataFrame:
        """ToChildBlockJoinQuery: matched parents fan out to their block's
        children with the parent's score (ToChildBlockJoinQuery.java:
        196-206); a parent-query match on a non-parent doc raises
        (validateParentDoc)."""
        parents = self._eval(q.parent, needs_scores=q.do_scores)
        pm = self._parent_map(q.parents)
        checked = parents.join(pm, "doc_id")

        def validate(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                bad = pdf["doc_id"].to_numpy() != pdf["parent_id"].to_numpy()
                if bad.any():
                    raise ValueError(
                        "Parent query must not match child docs "
                        "(ToChildBlockJoinScorer.validateParentDoc)"
                    )
                yield pdf[["parent_id", "score"]]

        psc = checked.mapInPandas(validate, "parent_id long, score double")
        kids = pm.filter(
            F.col("parent_id").isNotNull()
            & (F.col("doc_id") != F.col("parent_id"))
        )
        score = (
            F.col("score") if q.do_scores else F.lit(0.0).cast("double")
        )
        return kids.join(psc, "parent_id").select(
            "doc_id", score.alias("score")
        )

    def _eval_parent_children_block_join(
        self, q: ParentChildrenBlockJoinQuery
    ) -> DataFrame:
        """ParentChildrenBlockJoinQuery: the one parent's children that
        match the child query, child-query scored."""
        pm = self._parent_map(q.parents)
        kids = pm.filter(
            (F.col("parent_id") == F.lit(int(q.parent_doc_id)))
            & (F.col("doc_id") != F.col("parent_id"))
        ).select("doc_id")
        child = self._eval(q.child, needs_scores=True)
        return child.join(kids, "doc_id").select("doc_id", "score")

    def _eval_function_score(self, q: FunctionScoreQuery) -> DataFrame:
        """FunctionScoreQuery: one Column tree over the wrapped query's
        matches (queries/function/FunctionScoreQuery.java scorer). The
        whole rescore is Catalyst expressions — the expression itself
        compiles to columns (expressions.py), doc-value bindings are one
        join against the stored docs projection, Query bindings are
        left-joined sub-scores (missing -> 0.0) — so nothing leaves
        whole-stage codegen and the plan scales like the wrapped query."""
        df = self._eval(q.query, needs_scores=True)
        return self._expression_scores(df, q.expression, q.bindings, q.boost)

    def rescore_query(
        self, first_pass: Query, second: Query, weight: float,
        first_pass_k: int, k: int = 10,
    ) -> DataFrame:
        """QueryRescorer.rescore (search/QueryRescorer.java:177-192):
        re-rank the first pass's top-N by
        firstPassScore + weight * secondPassScore where the second query
        matches, firstPassScore alone where it doesn't. The second pass
        evaluates only against the top-N frame (a join against N rows —
        the 'cheap second pass over few docs' contract, expressed as a
        semi-restricted join instead of a doc-at-a-time scorer)."""
        top = self.search(first_pass, first_pass_k, prune=False)
        sec = self._eval(second, needs_scores=True).select(
            "doc_id", F.col("score").alias("__r2")
        )
        combined = top.join(sec, "doc_id", "left").select(
            "doc_id",
            (
                F.col("score")
                + F.coalesce(F.col("__r2"), F.lit(0.0))
                * F.lit(float(np.float64(weight)))
            ).alias("score"),
        )
        return self._topk(combined, k)

    def rescore_expression(
        self, first_pass: Query, expression: str, bindings,
        first_pass_k: int, k: int = 10,
    ) -> DataFrame:
        """ExpressionRescorer (expressions/ExpressionRescorer.java): the
        top-N docs of the first pass re-sorted by the expression value,
        which becomes the new score; SCORE binds the first-pass score.
        No FunctionScoreQuery guard — SortRescorer uses the raw sort
        value, negative or not."""
        top = self.search(first_pass, first_pass_k, prune=False)
        scored = self._expression_scores(top, expression, bindings, guard=False)
        return self._topk(scored, k)

    def _eval_intervals_no_overlaps(self, q: NoOverlapsIntervalQuery) -> DataFrame:
        """Intervals.unorderedNoOverlaps(a, b) = or(ordered(a, b),
        ordered(b, a)) — the reference's own composition
        (Intervals.java:285-287). Both ordered staircases run on the same
        per-slot point lists; the disjunction's minimal union drops every
        interval strictly containing another
        (DisjunctionIntervalIterator's containing-pop queue walk,
        vectorized as a suffix-min scan in matchers.minimal_union)."""
        slots = self._resolve_interval_slots([q.a, q.b])
        slots_t = tuple(tuple(s) for s in slots)
        all_terms = sorted({t for s in slots_t for t in s})
        stats = self.term_stats(all_terms)
        if any(all(t not in stats for t in s) for s in slots):
            return self._empty()

        def nov_freq(by_term, n_docs):
            by_slot = _slot_position_lists(by_term, slots_t, n_docs)
            return matchers.no_overlaps_interval_freqs(by_slot[0], by_slot[1], n_docs)

        # both operands must appear
        raw = self.decode_raw(all_terms, with_positions=True)
        scored = position_freqs(raw, all_terms, _slot_min_keys(slots_t), nov_freq)
        return self._interval_saturation(scored, q.boost, q.pivot)

    def _eval_span_or(self, q: SpanOrQuery) -> DataFrame:
        """SpanOrQuery (search/spans/SpanOrQuery.java): docs matching ANY
        clause; point spans give freq = 0.5 * total occurrences (each span
        weighs 1/(1+(end-start)) = 1/2, SpanScorer.setFreqCurrentDoc); idf
        summed over present clause terms (SpanWeight extractTerms). Pure
        JVM aggregation — positions never decoded."""
        stats = self.term_stats(q.terms)
        present = [t for t in q.terms if t in stats]
        if not present:
            return self._empty()
        scorer = self.multi_scorer_for(q.boost, [stats[t] for t in present])
        raw = self.decode_raw(present)
        agg = raw.groupBy("doc_id").agg(
            (F.sum("freq") * F.lit(0.5)).alias("freq"),
            F.first("norm").alias("norm"),
        )
        return self._score_freq_norm(agg, scorer)

    def _eval_span_not(self, q: SpanNotQuery) -> DataFrame:
        """SpanNotQuery (search/spans/SpanNotQuery.java): include spans with
        no exclude span inside [start - pre, end + post); for point spans an
        include position p is dropped iff an exclude position lies in
        [p - pre, p + post]. Left-anti join with an equi doc_id key plus the
        range residual — no Python. Span operands (SpanNearQuery include /
        exclude) route to the span-stream kernel."""
        if not isinstance(q.include, str) or any(
            not isinstance(x, str) for x in q.exclude
        ):
            return self._eval_span_not_spans(q)
        st = self.term_stats([q.include]).get(q.include)
        if st is None:
            return self._empty()
        scorer = self.multi_scorer_for(q.boost, [st])
        inc = (
            self.decode_raw([q.include], with_positions=True)
            .select("doc_id", "norm", F.explode("positions").alias("pos"))
        )
        exc_stats = self.term_stats(list(q.exclude))
        if exc_stats:
            exc = (
                self.decode_raw(list(exc_stats), with_positions=True)
                .select(F.col("doc_id").alias("xdoc"), F.explode("positions").alias("xpos"))
            )
            inc = inc.join(
                exc,
                (F.col("doc_id") == F.col("xdoc"))
                & (F.col("xpos") >= F.col("pos") - q.pre)
                & (F.col("xpos") <= F.col("pos") + q.post),
                "left_anti",
            )
        agg = inc.groupBy("doc_id").agg(
            (F.count("*") * F.lit(0.5)).alias("freq"),
            F.first("norm").alias("norm"),
        )
        return self._score_freq_norm(agg, scorer)

    def _eval_span_not_spans(self, q: SpanNotQuery) -> DataFrame:
        """SpanNotQuery with span operands: enumerate the include and
        exclude span streams per doc (term points / NearSpans kernels,
        the same machinery as SpanContaining) and keep include spans with
        no exclude span satisfying xe > cs - pre AND xs < ce + post
        (SpanNotQuery.java:199-215, vectorized as a prefix-max over the
        xs-sorted exclude ends). freq = Σ 1/(1+(ce-cs)) over the kept
        spans; idf from the include terms only."""
        inc_spec = _span_spec(q.include, "span not")
        exc_specs = tuple(_span_spec(x, "span not") for x in q.exclude)
        inc_terms = sorted(set(inc_spec[1]))
        every = sorted({t for s in (inc_spec,) + exc_specs for t in s[1]})
        stats = self.term_stats(every)
        if any(t not in stats for t in inc_terms):
            return self._empty()
        scorer = self.multi_scorer_for(q.boost, [stats[t] for t in inc_terms])
        all_terms = [t for t in every if t in stats]
        pre, post = int(q.pre), int(q.post)

        def span_not_freq(by_term, n_docs):
            out = np.zeros(n_docs, dtype=np.float64)
            for d in range(n_docs):
                cs, ce = _doc_spans(inc_spec, by_term, d)
                if len(cs) == 0:
                    continue
                xs_all, xe_all = [], []
                for sp in exc_specs:
                    xs, xe = _doc_spans(sp, by_term, d)
                    if len(xs):
                        xs_all.append(xs)
                        xe_all.append(xe)
                if xs_all:
                    xs = np.concatenate(xs_all)
                    xe = np.concatenate(xe_all)
                    order = np.argsort(xs, kind="stable")
                    xs, xe = xs[order], xe[order]
                    prefmax = np.maximum.accumulate(xe)
                    # excludes with xs < ce + post: indexes [0, j)
                    j = np.searchsorted(xs, ce + post, side="left")
                    reject = (j > 0) & (
                        prefmax[np.maximum(j - 1, 0)] > cs - pre
                    )
                    keep = ~reject
                    cs, ce = cs[keep], ce[keep]
                if len(cs):
                    out[d] = _span_weight(cs, ce)
            return out

        # absent exclude terms stay keys: their spans are empty
        raw = self.decode_raw(all_terms, with_positions=True)
        scored = position_freqs(raw, every, 1, span_not_freq)
        return self._score_freq_norm(scored, scorer)

    def _eval_span_position_range(self, q: SpanPositionRangeQuery) -> DataFrame:
        """SpanPositionRangeQuery (search/spans/SpanPositionRangeQuery.java):
        keep spans with spanStart >= start and spanEnd <= end. A term
        operand is a pure JVM array filter over the decoded positions;
        SpanFirstQuery (search/spans/SpanFirstQuery.java: point span p
        matches iff p + 1 <= end) is that branch with start 0. A
        SpanNearQuery operand runs the near walk (matchers.py span streams)
        and filters the emitted match windows."""
        lo, hi = int(q.start), int(q.end)
        if isinstance(q.match, str):
            st = self.term_stats([q.match]).get(q.match)
            if st is None:
                return self._empty()
            scorer = self.multi_scorer_for(q.boost, [st])
            raw = self.decode_raw([q.match], with_positions=True)
            scored = raw.select(
                "doc_id",
                "norm",
                (
                    F.size(
                        F.filter(
                            F.col("positions"),
                            lambda p: (p >= F.lit(lo)) & (p + 1 <= F.lit(hi)),
                        )
                    )
                    * F.lit(0.5)
                ).alias("freq"),
            ).filter(F.col("freq") > 0)
            return self._score_freq_norm(scored, scorer)
        spec = _span_spec(q.match, "span position-range")
        terms = list(spec[1])
        stats = self.term_stats(terms)
        if any(t not in stats for t in terms):
            return self._empty()
        scorer = self.multi_scorer_for(q.boost, [stats[t] for t in terms])

        def pr_freq(by_term, n_docs):
            out = np.zeros(n_docs, dtype=np.float64)
            for d in range(n_docs):
                ss, ee = _doc_spans(spec, by_term, d)
                keep = (ss >= lo) & (ee <= hi)
                if keep.any():
                    out[d] = _span_weight(ss[keep], ee[keep])
            return out

        raw = self.decode_raw(sorted(set(terms)), with_positions=True)
        scored = position_freqs(raw, terms, len(set(terms)), pr_freq)
        return self._score_freq_norm(scored, scorer)

    def _eval_multi_term(self, q: Query) -> DataFrame:
        """MultiTermQuery family, CONSTANT_SCORE_REWRITE
        (search/MultiTermQuery.java CONSTANT_SCORE_BLENDED/REWRITE): matching
        docs get score == boost. The expansion stays DISTRIBUTED — postings
        semi-joined against the filtered terms table — mirroring the
        reference's uncapped bitset rewrite: CONSTANT_SCORE has NO clause
        cap; the 1024 cap applies only to scoring boolean rewrites, where
        the reference throws TooManyClauses (see expand_terms)."""
        matching = self._terms_scan(q).filter(self._multi_term_cond(q)).select("term")
        # no driver round-trip; AQE picks broadcast vs shuffle join
        docs = matching_docs(self.index.postings.join(matching, "term", "left_semi"))
        return docs.withColumn("score", F.lit(float(np.float32(q.boost))))

    def _regexp_derivative_cond(self, pattern: str):
        """Terms-dictionary predicate for Lucene RegExp patterns with
        automaton operators nested inside groups (& ~ # <n-m> at any
        depth, util/automaton/RegExp.java): a Brzozowski-derivative DFA
        (lucene_spark/regexp.py) runs as an Arrow-batched kernel over the
        terms scan, behind JVM-side structural prefilters — the forced
        literal prefix pushes to the Parquet scan (StringStartsWith) and
        the length window prunes before any Python runs, so the kernel
        only sees the already-narrowed candidate set.  Named <identifier>
        automata still raise (they need an AutomatonProvider)."""
        from . import regexp as rx

        ast = rx.parse_lucene_regexp(pattern)  # driver-side validation
        cond = None
        pre = rx.literal_prefix(ast)
        if pre:
            cond = F.col("term").startswith(pre)
        lo = rx.min_len(ast)
        if lo > 0:
            c = F.length("term") >= lo
            cond = c if cond is None else (cond & c)
        hi = rx.max_len(ast)
        if hi is not None:
            c = F.length("term") <= hi
            cond = c if cond is None else (cond & c)

        @F.pandas_udf("boolean")
        def rx_ok(s: pd.Series) -> pd.Series:
            from .regexp import compile_lucene_regexp

            return pd.Series(compile_lucene_regexp(pattern).match_batch(s.tolist()))

        ok = rx_ok(F.col("term"))
        return ok if cond is None else (cond & ok)

    def enable_fuzzy_ngram_index(self, n: int = 2) -> None:
        """Build a (term, gram, gcnt) q-gram index over the terms
        dictionary and use it to PRUNE fuzzy candidates with the q-gram
        lemma before any edit-distance work — the scale analog of the
        reference's Levenshtein-automaton TermsEnum intersection
        (search/FuzzyTermsEnum.java:409, util/automaton/
        LevenshteinAutomata.java). Grams are substrings of length ``n``
        (one short gram = the whole term when len < n). Opt-in: the
        table is ~(avg_len) rows per dictionary term, persisted once and
        reused by every fuzzy query on this Searcher."""
        n = int(n)
        if self._ngram_terms is not None:
            self._ngram_terms.unpersist()
        grams = F.expr(
            f"transform(sequence(1, greatest(length(term) - {n - 1}, 1)),"
            f" i -> substring(term, i, {n}))"
        )
        self._ngram_n = n
        self._ngram_terms = (
            self.index.terms.select("term", F.explode(grams).alias("gram"))
            .groupBy("term", "gram")
            .agg(F.count("*").alias("gcnt"))
            .persist()
        )

    def _fuzzy_ngram_candidates(self, q: FuzzyQuery) -> Optional[DataFrame]:
        """q-gram lemma prefilter: ed(w, t) <= k implies the multiset
        gram intersection >= (len(w) - n + 1) - k*(n + 1) — the (n+1)
        factor (vs the classic k*n) covers OSA transpositions, which
        touch n+1 grams. Threshold <= 0 → None (full-scan fallback,
        exactly what short/high-edit patterns need anyway)."""
        if self._ngram_terms is None:
            return None
        n, w, k = self._ngram_n, q.term, int(q.max_edits)
        thresh = (len(w) - n + 1) - k * (n + 1)
        if thresh <= 0:
            return None
        from collections import Counter

        wg = Counter(w[i:i + n] for i in range(max(len(w) - n + 1, 1)))
        wdf = self.spark.createDataFrame(
            [(g, c) for g, c in wg.items()], "gram string, wcnt int"
        )
        return (
            self._ngram_terms.join(F.broadcast(wdf), "gram")
            .groupBy("term")
            .agg(F.sum(F.least(F.col("gcnt"), F.col("wcnt"))).alias("__c"))
            .filter(F.col("__c") >= int(thresh))
            .select("term")
        )

    def _vocab_size(self) -> int:
        """Distinct-term count, cached per Searcher (free when stats are
        preloaded; one metadata-cheap count job otherwise)."""
        if self._stats_complete:
            return len(self._stats_cache)
        if self._vocab_count is None:
            self._vocab_count = self.index.terms.count()
        return self._vocab_count

    def _terms_scan(self, q: Query) -> DataFrame:
        """The terms-dictionary frame a MultiTermQuery filters — q-gram
        pruned for fuzzy when the index is enabled (auto-enabled above the
        _FUZZY_NGRAM_AUTO vocabulary threshold, 100k; <=0 disables auto)."""
        if isinstance(q, FuzzyQuery):
            if self._ngram_terms is None and not self._fuzzy_auto_checked:
                self._fuzzy_auto_checked = True
                if 0 < _FUZZY_NGRAM_AUTO <= self._vocab_size():
                    self.enable_fuzzy_ngram_index()
            cand = self._fuzzy_ngram_candidates(q)
            if cand is not None:
                return self.index.terms.join(cand, "term", "left_semi")
        return self.index.terms

    def _multi_term_cond(self, q: Query):
        """The terms-dictionary predicate of a MultiTermQuery (the automaton/
        range that TermsEnum.intersect walks), as a Catalyst Column — pushed
        into the Parquet scan of the terms table."""
        if isinstance(q, PrefixQuery):
            return F.col("term").startswith(q.prefix)
        if isinstance(q, WildcardQuery):
            # backslash escapes make the next char literal (WildcardQuery
            # ESCAPE_CHAR, search/WildcardQuery.java:45-60)
            pat, i = "", 0
            while i < len(q.pattern):
                ch = q.pattern[i]
                if ch == "\\" and i + 1 < len(q.pattern):
                    pat += re.escape(q.pattern[i + 1])
                    i += 2
                    continue
                pat += ".*" if ch == "*" else "." if ch == "?" else re.escape(ch)
                i += 1
            return F.col("term").rlike("^(?:" + pat + ")$")
        if isinstance(q, RegexpQuery):
            # Fast path: top-level & (intersection), ~ (complement of a
            # whole operand) and # (empty) compose as Catalyst predicates
            # over per-leaf full-match regexes — pure JVM rlike, WSCG.
            # Patterns the RE2 translation can't express (automaton ops
            # NESTED inside groups) fall back to the Brzozowski-derivative
            # DFA kernel, which is native for & ~ # <n-m> at any depth.
            try:
                branches = split_lucene_regexp_ops(q.regexp)
                if not branches:
                    return F.lit(False)  # '#': the empty language
                cond = None
                for leaves in branches:
                    bc = None
                    for neg, sub in leaves:
                        lc = F.col("term").rlike(
                            "^(?:" + lucene_regexp_to_java(sub) + ")$"
                        )
                        if neg:
                            lc = ~lc
                        bc = lc if bc is None else (bc & lc)
                    if bc is None:
                        bc = F.lit(True)
                    cond = bc if cond is None else (cond | bc)
                return cond
            except NotImplementedError:
                return self._regexp_derivative_cond(q.regexp)
        if isinstance(q, TermRangeQuery):
            cond = F.lit(True)
            if q.lower is not None:
                cond = cond & (
                    F.col("term") >= q.lower if q.include_lower else F.col("term") > q.lower
                )
            if q.upper is not None:
                cond = cond & (
                    F.col("term") <= q.upper if q.include_upper else F.col("term") < q.upper
                )
            return cond
        if isinstance(q, TermInSetQuery):
            return F.col("term").isin(list(q.terms))
        if isinstance(q, FuzzyQuery):
            # cheap JVM band filters (length window, optional shared prefix —
            # FuzzyQuery's prefixLength) before the O(len^2) edit distance;
            # the length band is implied by the distance so recall is exact
            # for BOTH metrics (OSA >= |len diff| too), and Catalyst splits
            # the conjunction so the band still pushes into the Parquet scan
            # (vs the reference's Levenshtein automaton intersection,
            # search/FuzzyTermsEnum.java:409)
            n = len(q.term)
            cond = F.length("term").between(n - q.max_edits, n + q.max_edits)
            pl = int(getattr(q, "prefix_length", 0) or 0)
            if pl > 0:
                cond = cond & F.col("term").startswith(q.term[:pl])
            if getattr(q, "transpositions", True):
                # reference default: Damerau-Levenshtein with the optimal
                # string alignment restriction (FuzzyQuery.java:61-81);
                # vectorized batch DP over the band-pruned candidates
                tq, me = q.term, int(q.max_edits)

                @F.pandas_udf("boolean")
                def osa_ok(s: pd.Series) -> pd.Series:
                    from .editdist import osa_distances

                    return pd.Series(osa_distances(s.tolist(), tq) <= me)

                return cond & osa_ok(F.col("term"))
            return cond & (F.levenshtein(F.col("term"), F.lit(q.term)) <= q.max_edits)
        raise NotImplementedError(type(q).__name__)

    def expand_terms(self, q: Query) -> List[str]:
        """Driver-side expansion for SCORING rewrites (TopTermsRewrite /
        SCORING_BOOLEAN_REWRITE analogs) — the only place the BooleanQuery
        clause cap applies, and there the reference THROWS
        (IndexSearcher.TooManyClauses) rather than silently truncating.
        Constant-score evaluation never calls this (see _eval_multi_term)."""
        rows = (
            self._terms_scan(q).filter(self._multi_term_cond(q))
            .select("term")
            .limit(MAX_CLAUSE_COUNT + 1)
            .collect()
        )
        if len(rows) > MAX_CLAUSE_COUNT:
            raise TooManyClauses(
                f"{type(q).__name__} expands to more than {MAX_CLAUSE_COUNT} terms"
            )
        return sorted(r["term"] for r in rows)


class MultiFieldSearcher(Searcher):
    """Field-qualified search over one corpus indexed per field: a field = a
    content column = its own Index (SURVEY §1.1 Field mapping), each with its
    own statistics — the PerFieldSimilarityWrapper model. Leaf queries route
    to their field's Searcher; boolean/dismax algebra is inherited and
    combines per-field scores on the shared global doc_id.

    Every top-k query is served by _eval: the planner's hot and WAND tiers
    read the default field's postings only, so this searcher's tier rule
    declines them (they stay available on the per-field Searchers
    themselves).
    """

    def __init__(
        self,
        searchers: Dict[str, Searcher],
        default_field: str,
        dtype=np.float32,
    ):
        if default_field not in searchers:
            raise ValueError(f"default_field {default_field!r} not in searchers")
        self.searchers = dict(searchers)
        self.default_field = default_field
        base = searchers[default_field]
        super().__init__(base.index, dtype=dtype, similarity=base.sim)

    def _decline(self, tier: str, shape) -> Optional[str]:
        return "multi-field"

    def _eval(self, q: Query, needs_scores: bool) -> DataFrame:
        if isinstance(q, SpanNearQuery) and any(
            isinstance(t, FieldMaskedTerm) for t in q.terms
        ):
            return self._eval_span_near_masked(q)
        def _has_fixfield(t):
            if isinstance(t, FieldMaskedTerm):
                return True
            return isinstance(t, (tuple, list)) and any(
                isinstance(x, FieldMaskedTerm) for x in t
            )

        if isinstance(q, IntervalQuery) and any(
            _has_fixfield(t) for t in q.terms
        ):
            return self._eval_intervals_fixfield(q)
        if isinstance(q, CombinedFieldQuery):
            return self._eval_combined_field(q)
        fname = getattr(q, "field", None)
        if fname is not None:
            sub = self.searchers.get(fname)
            if sub is None:
                return self._empty()  # unknown field matches nothing
            return sub._eval(dataclasses.replace(q, field=None), needs_scores)
        if isinstance(q, (BooleanQuery, DisjunctionMaxQuery, ConstantScoreQuery)):
            return super()._eval(q, needs_scores)  # recurses back through us
        return self.searchers[self.default_field]._eval(q, needs_scores)

    def _eval_combined_field(self, q: "CombinedFieldQuery") -> DataFrame:
        """CombinedFieldQuery (sandbox — BM25F): one BM25 evaluation of a
        pseudo term over a pseudo field. Per-field tf frames union into
        one weighted-freq aggregate; every field's per-doc norm joins in
        (norms are doc-level, present whether or not that field matched)
        and re-quantizes through the reference's exact
        decode→weighted-sum→round→encode chain; the pseudo term and
        collection statistics follow CombinedFieldWeight's max/weighted-
        truncate merges. The scorer is the ordinary BM25 kernel over the
        combined (freq, norm)."""
        from .bm25 import CollectionStats
        from .similarities import TermStatsIn

        fields = [(f, float(w)) for f, w in q.fields]
        if any(w < 1 for _f, w in fields):
            raise ValueError("CombinedFieldQuery weights must be >= 1")
        subs = []
        df_max, ttf = 0, 0
        for f, w in fields:
            sub = self.searchers.get(f)
            if sub is None:
                continue
            st = sub.term_stats([q.term]).get(q.term)
            subs.append((f, w, sub, st))
            if st is not None:
                df_max = max(df_max, st.doc_freq)
                # Java `long += double` truncates PER STEP
                # (CombinedFieldQuery.java:293,303)
                ttf = int(ttf + w * st.total_term_freq)
        if df_max == 0:
            return self._empty()
        doc_count = max(s.index.stats.doc_count for _f, _w, s, _ in subs)
        sttf = 0
        for _f, w, s, _st in subs:  # per-step truncation, java:321,328
            sttf = int(sttf + w * s.index.stats.sum_total_term_freq)
        scorer = self.sim.multi_scorer(
            q.boost,
            [TermStatsIn(df_max, max(1, ttf))],
            CollectionStats(doc_count, sttf),
            self.dtype,
        )
        parts = []
        for f, w, sub, st in subs:
            if st is None:
                continue
            parts.append(
                sub.decode_raw([q.term]).select(
                    "doc_id",
                    (F.col("freq").cast("double") * F.lit(w)).alias("wf"),
                )
            )
        matched = parts[0]
        for p in parts[1:]:
            matched = matched.unionByName(p)
        matched = matched.groupBy("doc_id").agg(F.sum("wf").alias("freq"))
        weights = []
        for i, (f, w, sub, _st) in enumerate(subs):
            matched = matched.join(
                sub.index.docs.select(
                    "doc_id", F.col("norm").alias(f"__n{i}")
                ),
                "doc_id",
                "left",
            ).fillna({f"__n{i}": 0})
            weights.append(w)
        n_fields = len(weights)
        w_arr = tuple(weights)

        @F.pandas_udf("double")
        def cf_score(freq: pd.Series, norms: pd.Series) -> pd.Series:
            from .smallfloat import LENGTH_TABLE, int_to_byte4

            nb = np.stack(
                [np.asarray(x, dtype=np.int64) for x in norms]
            ) & 0xFF  # (n_rows, n_fields)
            if nb.shape[1] == 1:
                # single norm field: raw norm, weight ignored
                # (MultiNormsLeafSimScorer.java:67-68)
                cnb = nb[:, 0]
            else:
                ws = np.asarray(w_arr, dtype=np.float32)
                total = np.zeros(nb.shape[0], dtype=np.float32)
                for j in range(nb.shape[1]):  # sequential f32 += w*LT
                    total += ws[j] * LENGTH_TABLE[nb[:, j]]
                # Math.round(float) = (int) floor(v + 0.5f) — f32 add
                cnb = int_to_byte4(
                    np.floor(total + np.float32(0.5)).astype(np.int64)
                )
            return pd.Series(
                scorer.score(
                    freq.to_numpy(np.float64), cnb.astype(np.int64)
                ).astype(np.float64)
            )

        norm_arr = F.array(*[F.col(f"__n{i}") for i in range(n_fields)])
        return matched.select(
            "doc_id",
            cf_score(F.col("freq"), norm_arr).alias("score"),
        )

    def _field_positions(self, slots):
        """The positional sources of a cross-field query: ``slots`` hold
        (field, term) alternatives. Returns each field's term stats and the
        union of every field's positional decode, its term column tagged
        "field\\x00term" so equal term text in different fields stays
        distinct — or None when a field has no searcher or a slot has no
        indexed alternative (the conjunction cannot match)."""
        by_field: Dict[str, List[str]] = {}
        for s in slots:
            for f, t in s:
                by_field.setdefault(f, []).append(t)
        stats_by_field = {}
        for f, ts in by_field.items():
            sub = self.searchers.get(f)
            if sub is None:
                return None
            stats_by_field[f] = sub.term_stats(ts)
        if any(all(t not in stats_by_field[f] for f, t in s) for s in slots):
            return None
        raws = [
            self.searchers[f]
            .decode_raw(sorted(set(ts)), with_positions=True)
            .select(
                F.concat(F.lit(f + "\x00"), F.col("term")).alias("term"),
                "doc_id",
                "norm",
                "positions",
            )
            for f, ts in by_field.items()
        ]
        raw = raws[0]
        for r in raws[1:]:
            raw = raw.unionByName(r)
        return stats_by_field, raw

    def _eval_intervals_fixfield(self, q: IntervalQuery) -> DataFrame:
        """IntervalQuery with Intervals.fixField slots
        (queries/intervals/FixedFieldIntervalsSource.java, factory at
        Intervals.java:295-297): a FieldMaskedTerm slot streams positions
        from ITS OWN field's index while the ordered/unordered staircase —
        and the position ordinals it compares — runs over the enclosing
        query's slot order, exactly the reference's cross-field interval
        comparison (the javadoc's stemmed-near-unstemmed example). Interval
        scoring is similarity-free (saturation on freq, no norms/idf), so
        unlike the masked-span path no mask-field norm join is needed.
        A slot is a plain term, a field-fixed term, or a TUPLE of such
        alternatives (Intervals.or over fixField sources — alternatives
        may come from different fields; the slot's point stream is the
        union of every alternative's positions)."""
        mask_field = self.default_field

        def alt(t):
            if isinstance(t, FieldMaskedTerm):
                return (t.field, t.term)
            if isinstance(t, str):
                return (mask_field, t)
            raise NotImplementedError(
                "fixField interval alternatives must be plain or "
                "field-fixed terms"
            )

        slots = []  # each: tuple of (field, term) alternatives
        for t in q.terms:
            if isinstance(t, (tuple, list)):
                slots.append(tuple(alt(x) for x in t))
            else:
                slots.append((alt(t),))
        if len(set(slots)) != len(slots):
            raise NotImplementedError("duplicate fixField interval slots")
        # conjunction: every slot needs at least one present alternative
        src = self._field_positions(slots)
        if src is None:
            return self._empty()
        stats_by_field, raw = src
        # per-slot alternative keys, absent alternatives dropped
        slot_keys = tuple(
            tuple(
                f + "\x00" + t for f, t in s if t in stats_by_field[f]
            )
            for s in slots
        )
        ordered, max_gaps = bool(q.ordered), int(q.max_gaps)
        max_width = int(getattr(q, "max_width", -1))
        all_keys = sorted({k for s in slot_keys for k in s})

        def ff_freq(by_key, n_docs):
            return matchers.interval_freqs(
                _slot_position_lists(by_key, slot_keys, n_docs), ordered,
                max_gaps, n_docs, min_extent=len(slot_keys), max_width=max_width,
            )

        scored = position_freqs(raw, all_keys, _slot_min_keys(slot_keys), ff_freq)
        return self._interval_saturation(scored, q.boost, q.pivot)

    def _eval_span_near_masked(self, q: SpanNearQuery) -> DataFrame:
        """SpanNearQuery with FieldMaskingSpanQuery clauses
        (search/spans/FieldMaskingSpanQuery.java): each FieldMaskedTerm
        clause streams positions from ITS OWN field's index while the
        whole near query scores on the mask field (q.field or the default
        field) — SpanWeight.buildSimWeight takes
        collectionStatistics(getField()) and norms of getField(), with
        each term's statistics from its own TermStates. Clause position
        lists are tagged (field, term) so equal term text in different
        fields stays distinct; the near walk itself is the shared
        matchers.py kernel (position ordinals compare across fields as-is,
        exactly the reference's cross-field Spans comparison)."""
        mask_field = getattr(q, "field", None) or self.default_field
        mask = self.searchers.get(mask_field)
        if mask is None:
            return self._empty()
        clauses = []  # (source_field, term) per clause, in query order
        for t in q.terms:
            if isinstance(t, FieldMaskedTerm):
                clauses.append((t.field, t.term))
            else:
                clauses.append((mask_field, t))
        src = self._field_positions([(c,) for c in clauses])
        if src is None:
            return self._empty()
        stats_by_field, raw = src
        # term stats keep their source field; collection stats + norms
        # come from the mask field's index
        scorer = mask.multi_scorer_for(
            q.boost, [stats_by_field[f][t] for f, t in clauses]
        )
        keys = [f + "\x00" + t for f, t in clauses]
        n_distinct = len(set(keys))
        slop, in_order = int(q.slop), bool(q.in_order)
        # the 2-clause closed form assumes distinct-term positions never
        # tie — valid inside one field, NOT across parallel fields (equal
        # ordinals are the masked query's whole point), so any cross-field
        # clause set takes the general merge walk whose (position, clause)
        # tie order transcribes the reference heap's
        distinct = n_distinct == len(keys) and len(stats_by_field) == 1
        keys_t = tuple(keys)

        def span_freq(by_key, n_docs):
            return _span_near_freqs(
                [by_key[k] for k in keys_t], slop, in_order, n_docs, distinct
            )

        scored = position_freqs(raw, keys, n_distinct, span_freq)
        # norms are the MASK field's (getNormValues(getField())); a doc
        # whose clauses are all masked still scores with the mask field's
        # doc length, so join the per-doc norms table rather than ride a
        # clause posting's norm
        norms = mask.index.docs.select("doc_id", "norm")
        scored = scored.select("doc_id", "freq").join(norms, "doc_id", "left")
        return mask._score_freq_norm(scored.fillna({"norm": 0}), scorer)
