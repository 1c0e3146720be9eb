"""Query execution: the reference's IndexSearcher / Weight / Scorer stack
re-expressed set-at-a-time as DataFrame ops + Arrow-batch decoders.

Pipeline per query (SURVEY.md §3.2 mapping):
1. rewrite(query)                      — driver-side AST fixpoint
2. stats lookup (terms table, tiny)    — global stats like IndexSearcher.java:938-957
3. per-term scorer (idf + norm cache)  — BM25Similarity.scorer
4. postings decode + vectorized score  — mapInPandas over block rows
   (PostingsEnum bulk decode; Spark's batch model replaces the iterator)
5. boolean algebra as joins/groupBy    — Boolean2ScorerSupplier analogs:
   MUST=intersection via grouped counts, SHOULD=sum, FILTER=semi join,
   MUST_NOT=anti join, minimumShouldMatch=HAVING count
6. top-k: orderBy(score desc, doc_id asc).limit(k)
   == per-partition heap + TopDocs.merge (TakeOrderedAndProject), ties by
   ascending doc_id (TopScoreDocCollector.java:27-29)

Block-max pruning (WAND analog) lives in prune.py and is used by
``Searcher.search`` for term/disjunction/conjunction-of-terms tops-k when
``prune=True``; correctness never depends on it (equivalence-tested).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from typing import Dict, Iterator, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from . import codec, matchers
from .bm25 import BM25Scorer
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
    BlendedTermQuery,
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


def _slot_position_lists(plist: pd.Series, slots_t, all_terms):
    """Arrow-batch (term, positions) structs → per-SLOT per-doc position
    lists: a slot with several alternatives (Intervals.or / multi-term
    expansion) gets the sorted union of its alternatives' positions — the
    minimal intervals of a point-term disjunction are just the union of
    points (DisjunctionIntervalsSource over TermIntervalsSource)."""
    n_docs = len(plist)
    by_term = {t: [None] * n_docs for t in all_terms}
    for i, entries in enumerate(plist):
        for e in entries:
            by_term[e["term"]][i] = np.asarray(e["positions"], dtype=np.int64)
    by_slot = []
    for s in slots_t:
        col = []
        for i in range(n_docs):
            parts = [by_term[t][i] for t in s if by_term[t][i] is not None]
            if not parts:
                col.append(None)
            elif len(parts) == 1:
                col.append(parts[0])
            else:
                col.append(np.unique(np.concatenate(parts)))
        by_slot.append(col)
    return by_slot, n_docs


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
        # Lucene keeps the term dictionary memory-resident (FST in .tip);
        # preloading the (tiny) terms table into the driver is the analog and
        # removes one Spark job from every query. Off by default: at true
        # scale the terms table may exceed driver memory — there the
        # per-query filtered lookup stays.
        self._stats_cache: Optional[Dict[str, TermStats]] = None
        if preload_stats:
            self._stats_cache = {
                r["term"]: TermStats(
                    int(r["doc_freq"]),
                    int(r["total_term_freq"]),
                    int(r["singleton_doc_id"]),
                    int(r["singleton_freq"]),
                    int(r["singleton_norm"]),
                )
                for r in self.index.terms.collect()
            }
        # per-(term, boost) block-bounds cache for the pruned path (the
        # MaxScoreCache analog, search/MaxScoreCache.java:58-115); optionally
        # backed by a bulk preloaded frame (preload_bounds)
        self._bounds_cache: Dict[Tuple[str, float], "pd.DataFrame"] = {}
        self._bounds_bulk: Optional[tuple] = None
        # per-query exact k-th-score cache (minCompetitiveScore carry-over)
        self._theta_cache: Dict[tuple, float] = {}
        # distributed-tier per-(term, boost) WAND metadata (gmax / top
        # achieved scores / probe block key) — tiny per entry, so it stays
        # driver-resident even when the block bounds themselves don't
        self._dist_meta_cache: Dict[tuple, dict] = {}
        # transient block-metadata predicate for sorted early termination
        self._block_pred = None
        # driver-resident decoded postings for hot terms — the analog of
        # Lucene serving postings from the OS page cache. Bounded by
        # LUCENE_SPARK_HOT_CACHE_POSTINGS total postings (0 disables).
        self._postings_cache: Dict[str, tuple] = {}
        self._hot_cached = 0
        # positional variant: term -> (docs, freqs, norms, positions list)
        self._positions_cache: Dict[str, tuple] = {}
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
        # LUCENE_SPARK_FUZZY_NGRAM_AUTO terms (the reference's Levenshtein
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

    def preload_bounds(self, terms: Optional[Sequence[str]] = None) -> int:
        """Bulk-warm the driver block-bounds cache (boost 1.0) — the analog
        of Lucene opening/mmapping skip+impact data up front. One Spark job
        for the whole term set; afterwards first-time WAND queries need a
        single decode job. Returns the number of block rows cached.
        Requires preloaded stats when ``terms`` is None."""
        from .prune import _block_bounds, _driver_meta_max

        if terms is None:
            if self._stats_cache is None:
                raise ValueError("preload_bounds() without terms needs preload_stats=True")
            terms = list(self._stats_cache)
        stats = self.term_stats(list(terms))
        scorers = {t: self.scorer_for(1.0, st) for t, st in stats.items()}
        if not scorers:
            return 0
        all_terms = self._stats_cache is not None and len(scorers) == len(
            self._stats_cache
        )
        fetched = _block_bounds(
            self, scorers, filter_terms=not all_terms
        ).toPandas()
        if len(fetched) > _driver_meta_max():
            raise ValueError(
                f"bounds ({len(fetched)} blocks) exceed LUCENE_SPARK_DRIVER_META_MAX"
            )
        # one term-sorted bulk frame; per-term views are sliced lazily at
        # query time (materializing 10^5 tiny frames up front is the slow
        # part, not the Spark job)
        fetched = fetched.sort_values("term", kind="mergesort").reset_index(drop=True)
        self._bounds_bulk = (fetched["term"].to_numpy(), fetched)
        return len(fetched)

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
        """Top-k (doc_id, score), ordered by score desc then doc_id asc."""
        q = rewrite(q)
        if prune:
            hot = self._try_hot_topk(q, k)
            if hot is not None:
                return hot
            from .prune import try_pruned_topk

            pruned = try_pruned_topk(self, q, k)
            if pruned is not None:
                return pruned
        return self._topk(self.matches(q), k)

    # ---------------- hot-term driver cache ----------------

    def _hot_cache_limit(self) -> int:
        import os

        return int(os.environ.get("LUCENE_SPARK_HOT_CACHE_POSTINGS", "20000000"))

    def _ensure_hot(self, terms: Sequence[str], stats: Dict[str, TermStats]) -> bool:
        limit = self._hot_cache_limit()
        if limit <= 0:
            return False
        need = [t for t in terms if t not in self._postings_cache]
        add = sum(stats[t].doc_freq for t in need)
        if add > limit:
            return False
        # evict FIFO, but never a term of the CURRENT query: 'need' was
        # computed above, so evicting a current term would leave it absent
        # from the cache after the bulk fetch (KeyError in the hot paths)
        term_set = set(terms)
        evictable = [t for t in self._postings_cache if t not in term_set]
        while need and self._hot_cached + add > limit and evictable:
            t_old = evictable.pop(0)
            self._hot_cached -= len(self._postings_cache.pop(t_old)[0])
        if self._hot_cached + add > limit:
            return False
        if need:
            pdf = self.decode_raw(need).toPandas()  # ONE job for all terms
            for t, g in pdf.groupby("term"):
                g = g.sort_values("doc_id")
                self._postings_cache[t] = (
                    g["doc_id"].to_numpy(np.int64),
                    g["freq"].to_numpy(np.int64),
                    g["norm"].to_numpy(np.int64),
                )
                self._hot_cached += len(g)
            for t in need:  # terms absent from postings (defensive)
                self._postings_cache.setdefault(
                    t,
                    (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.int64)),
                )
        return True

    def _ensure_hot_positions(
        self, terms: Sequence[str], stats: Dict[str, TermStats]
    ) -> bool:
        if not self.index.config.with_positions:
            return False
        limit = self._hot_cache_limit()
        if limit <= 0:
            return False
        need = [t for t in terms if t not in self._positions_cache]
        add = sum(stats[t].total_term_freq for t in need)
        if add > limit:
            return False
        term_set = set(terms)  # same never-evict-current rule as _ensure_hot
        evictable = [t for t in self._positions_cache if t not in term_set]
        while need and self._hot_pos_cached + add > limit and evictable:
            t_old = evictable.pop(0)
            old = self._positions_cache.pop(t_old)
            self._hot_pos_cached -= int(old[1].sum())
        if self._hot_pos_cached + add > limit:
            return False
        if need:
            pdf = self.decode_raw(need, with_positions=True).toPandas()
            for t, g in pdf.groupby("term"):
                g = g.sort_values("doc_id")
                freqs = g["freq"].to_numpy(np.int64)
                # FLAT layout: one concatenated positions array + per-doc
                # start offsets — per-query gathers stay fully vectorized
                # (matchers.gather_slices), no per-doc list handling
                if len(g):
                    flat = np.concatenate(
                        [np.asarray(p, dtype=np.int64) for p in g["positions"]]
                    )
                else:
                    flat = np.empty(0, np.int64)
                starts = np.concatenate(([0], np.cumsum(freqs)[:-1])).astype(np.int64)
                self._positions_cache[t] = (
                    g["doc_id"].to_numpy(np.int64),
                    freqs,
                    g["norm"].to_numpy(np.int64),
                    flat,
                    starts,
                )
                self._hot_pos_cached += int(freqs.sum())
            for t in need:
                self._positions_cache.setdefault(
                    t,
                    (np.empty(0, np.int64), np.empty(0, np.int64),
                     np.empty(0, np.int64), np.empty(0, np.int64),
                     np.empty(0, np.int64)),
                )
        return True

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
        IndexSearcher.search returns TopDocs, not a cursor). The pruned tiers
        hand their rows back directly, so no job is spent re-collecting a
        driver-local result frame."""
        q = rewrite(q)
        rows = self._hot_topk_rows(q, k)
        if rows is not None:
            return rows
        from .prune import try_pruned_topk_rows

        pruned = try_pruned_topk_rows(self, q, k)
        if pruned is not None:
            return [(int(d), float(s)) for d, s in pruned]
        df = self._topk(
            self._apply_deletes(self._eval(q, needs_scores=True)), k
        )
        return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]

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

    def _try_hot_topk(self, q: Query, k: int) -> Optional[DataFrame]:
        if self._tombs_over_cap:
            # no driver tombstone snapshot: _rank_rows cannot filter deleted
            # docs, so hot top-k must fall back to the distributed path
            # (whose _apply_deletes anti-join stays cluster-side)
            return None
        rows = self._hot_topk_rows(q, k)
        if rows is None:
            return None
        return self.spark.createDataFrame(rows, MATCH_SCHEMA)

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

    def _hot_topk_rows(self, q: Query, k: int) -> Optional[List[Tuple[int, float]]]:
        """Fully driver-side top-k for flat term/AND/OR shapes — plus phrase,
        synonym and dismax-of-terms — whose decoded postings fit the hot
        cache. Exact scoring (no pruning needed: numpy over in-memory
        arrays), identical tie rules."""
        from .prune import _flat_term_clauses

        if isinstance(q, PhraseQuery) and len(q.terms) > 1:
            return self._hot_phrase_rows(q, k)
        if isinstance(q, SynonymQuery):
            return self._hot_synonym_rows(q, k)
        if isinstance(q, DisjunctionMaxQuery) and q.disjuncts and all(
            isinstance(d, TermQuery) for d in q.disjuncts
        ):
            return self._hot_dismax_rows(q, k)
        if isinstance(q, BlendedTermQuery):
            return self._hot_blended_rows(q, k)

        shape = _flat_term_clauses(q)
        if shape is None:
            return None
        mode, term_qs, _ = shape
        terms = [tq.term for tq in term_qs]
        if len(set(terms)) != len(terms):
            return None
        stats = self.term_stats(terms)
        if mode == "and" and any(t not in stats for t in terms):
            return []
        present = [tq for tq in term_qs if tq.term in stats]
        if not present:
            return []
        if not self._ensure_hot([tq.term for tq in present], stats):
            return None
        per_term = []
        for tq in present:
            docs, freqs, norms = self._postings_cache[tq.term]
            sc = (
                self.scorer_for(tq.boost, stats[tq.term])
                .score(freqs, norms)
                .astype(np.float64)
            )
            per_term.append((docs, sc))
        if len(per_term) == 1:
            u, tot = per_term[0]
        elif mode == "or":
            u, inv, _o, _s = matchers.merge_sorted_runs([a[0] for a in per_term])
            tot = np.bincount(inv, weights=np.concatenate([a[1] for a in per_term]))
        else:
            cur_docs, cur_sc = per_term[0]
            for docs_i, sc_i in per_term[1:]:
                cur_docs, ia, ib = matchers.intersect_sorted(cur_docs, docs_i)
                cur_sc = cur_sc[ia] + sc_i[ib]
            u, tot = cur_docs, cur_sc
        return self._rank_rows(u, tot, k)

    def _hot_phrase_rows(self, q: PhraseQuery, k: int) -> Optional[List[Tuple[int, float]]]:
        """Driver-side PhraseQuery: identical semantics to _eval_phrase —
        vectorized batch matching via matchers.py (no per-doc Python loop)."""
        terms = list(q.terms)
        stats = self.term_stats(terms)
        if any(t not in stats for t in terms):
            return []
        uniq = list(dict.fromkeys(terms))
        if not self._ensure_hot_positions(uniq, stats):
            return None
        scorer = self.multi_scorer_for(q.boost, [stats[t] for t in terms])
        slop = int(q.slop)

        # docs containing every term, with indices into each term's arrays
        cur = self._positions_cache[uniq[0]][0]
        idxs = {uniq[0]: np.arange(len(cur))}
        for t in uniq[1:]:
            cur, ia, ib = matchers.intersect_sorted(cur, self._positions_cache[t][0])
            idxs = {tt: v[ia] for tt, v in idxs.items()}
            idxs[t] = ib
        if len(cur) == 0:
            return []
        n_docs = len(cur)
        # vectorized multi-slice gather from the flat positions cache: the
        # candidate docs' positions arrive as one contiguous array per term
        # with candidate-order doc offsets already applied
        g_by_term = {}
        for t in uniq:
            _d, tfreqs, _n, flat, starts = self._positions_cache[t]
            sel = idxs[t]
            lens = tfreqs[sel]
            local = matchers.gather_slices(flat, starts[sel], lens)
            g_by_term[t] = local + np.repeat(
                np.arange(n_docs, dtype=np.int64) << 32, lens
            )
        if slop == 0:
            freqs = matchers.exact_phrase_freqs_global(
                g_by_term, terms, n_docs
            ).astype(np.float64)
        else:
            # the cache layout IS the batch kernels' input (doc-offset
            # global arrays): no per-doc list round-trip
            freqs = matchers.sloppy_phrase_freqs_global(
                g_by_term, terms, slop, n_docs
            )
        keep = freqs > 0
        if not keep.any():
            return []
        norms = self._positions_cache[uniq[0]][2][idxs[uniq[0]]][keep]
        sc = scorer.score(freqs[keep], norms).astype(np.float64)
        return self._rank_rows(cur[keep], sc, k)

    def _hot_synonym_rows(self, q: SynonymQuery, k: int) -> Optional[List[Tuple[int, float]]]:
        """Driver-side SynonymQuery: summed tf per doc, blended stats —
        mirrors _eval_synonym."""
        stats = self.term_stats(q.terms)
        if not stats:
            return []
        if not self._ensure_hot(list(stats), stats):
            return None
        df_blend = max(s.doc_freq for s in stats.values())
        ttf_blend = max(s.total_term_freq for s in stats.values())
        scorer = self.scorer_for(q.boost, TermStats(df_blend, ttf_blend, -1, 0, 0))
        u, inv, _o, _s = matchers.merge_sorted_runs(
            [self._postings_cache[t][0] for t in stats]
        )
        freqs = np.concatenate([self._postings_cache[t][1] for t in stats])
        norms = np.concatenate([self._postings_cache[t][2] for t in stats])
        tf = np.bincount(inv, weights=freqs.astype(np.float64))
        nrm = np.zeros(len(u), dtype=np.int64)
        nrm[inv] = norms  # norm is per-doc, identical across terms
        sc = scorer.score(tf, nrm).astype(np.float64)
        return self._rank_rows(u, sc, k)

    def _hot_dismax_rows(self, q: DisjunctionMaxQuery, k: int) -> Optional[List[Tuple[int, float]]]:
        """Driver-side DisjunctionMaxQuery over term disjuncts: max + tie *
        (sum - max) — mirrors _eval_dismax."""
        term_qs = list(q.disjuncts)
        stats = self.term_stats([tq.term for tq in term_qs])
        present = [tq for tq in term_qs if tq.term in stats]
        if not present:
            return []
        if not self._ensure_hot([tq.term for tq in present], stats):
            return None
        docs_all, sc_all = [], []
        for tq in present:
            docs, freqs, norms = self._postings_cache[tq.term]
            docs_all.append(docs)
            sc_all.append(
                self.scorer_for(tq.boost, stats[tq.term])
                .score(freqs, norms)
                .astype(np.float64)
            )
        u, inv, order, starts = matchers.merge_sorted_runs(docs_all)
        cat_sc = np.concatenate(sc_all)
        tot = np.bincount(inv, weights=cat_sc)
        mx = np.maximum.reduceat(cat_sc[order], starts)
        score = mx + float(q.tie_breaker) * (tot - mx)
        if q.boost != 1.0:
            score = score * float(q.boost)
        return self._rank_rows(u, score, k)

    def _hot_blended_rows(self, q: BlendedTermQuery, k: int) -> Optional[List[Tuple[int, float]]]:
        """Driver-side BlendedTermQuery: same artificial-stats scoring as
        _eval_blended, numpy over the hot postings cache."""
        from .similarities import TermStatsIn

        terms = list(q.terms)
        boosts = list(q.boosts) if q.boosts else [1.0] * len(terms)
        if len(boosts) != len(terms):
            raise ValueError("boosts must match terms")
        if q.rewrite not in ("dismax", "boolean"):
            raise ValueError(f"unknown rewrite {q.rewrite!r}")
        stats = self.term_stats(sorted(set(terms)))
        present = [(t, b) for t, b in zip(terms, boosts) if t in stats]
        if not present:
            return []
        if not self._ensure_hot([t for t, _b in present], stats):
            return None
        df_art = max(stats[t].doc_freq for t, _b in present)
        ttf_art = sum(stats[t].total_term_freq for t, _b in present)
        docs_all, sc_all = [], []
        for t, b in present:
            docs, freqs, norms = self._postings_cache[t]
            sc = self.sim.multi_scorer(
                b, [TermStatsIn(df_art, ttf_art)], self.index.stats, self.dtype
            )
            docs_all.append(docs)
            sc_all.append(sc.score(freqs, norms).astype(np.float64))
        u, inv, order, starts = matchers.merge_sorted_runs(docs_all)
        cat_sc = np.concatenate(sc_all)
        tot = np.bincount(inv, weights=cat_sc)
        if q.rewrite == "boolean":
            score = tot
        else:
            mx = np.maximum.reduceat(cat_sc[order], starts)
            score = mx + float(q.tie_breaker) * (tot - mx)
        if q.boost != 1.0:
            score = score * float(q.boost)
        return self._rank_rows(u, score, k)

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
        if self._stats_cache is None:
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
        terms = list(dict.fromkeys(terms))
        if not terms:
            return {}
        if self._stats_cache is not None:
            return {t: self._stats_cache[t] for t in terms if t in self._stats_cache}
        rows = self.index.terms.filter(F.col("term").isin(terms)).collect()
        return {
            r["term"]: TermStats(
                int(r["doc_freq"]),
                int(r["total_term_freq"]),
                int(r["singleton_doc_id"]),
                int(r["singleton_freq"]),
                int(r["singleton_norm"]),
            )
            for r in rows
        }

    def scorer_for(self, boost: float, st: TermStats):
        from .similarities import TermStatsIn

        return self.sim.scorer(
            boost,
            TermStatsIn(st.doc_freq, st.total_term_freq),
            self.index.stats,
            self.dtype,
        )

    def multi_scorer_for(self, boost: float, sts: Sequence[TermStats]):
        from .similarities import TermStatsIn

        return self.sim.multi_scorer(
            boost,
            [TermStatsIn(s.doc_freq, s.total_term_freq) for s in sts],
            self.index.stats,
            self.dtype,
        )

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

    def decode_scored(
        self, scorers: Dict[str, BM25Scorer], keep_term: bool = False
    ) -> DataFrame:
        """Decode + score postings of the given terms: (term?, doc_id, score)."""
        schema = ("term string, " if keep_term else "") + MATCH_SCHEMA
        scorer_map = scorers

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                outs = []
                for row in pdf.itertuples(index=False):
                    n = int(row.count)
                    docs, freqs, norms = codec.decode_block_row(row)
                    sc = scorer_map[row.term].score(freqs, norms).astype(np.float64)
                    d = {"doc_id": docs, "score": sc}
                    if keep_term:
                        d = {"term": np.repeat(row.term, n), **d}
                    outs.append(pd.DataFrame(d))
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        return self._postings_for(list(scorer_map)).mapInPandas(run, schema=schema)

    def _fused_bool_scored(
        self, must: list, should: list, needs_scores: bool
    ) -> Optional[DataFrame]:
        """Single-scan decode for a flat boolean over distinct TermQuery
        clauses: ONE postings scan + ONE Arrow stage emitting
        (doc_id, score, is_must) for every clause match, instead of a union
        of per-term scans. This is the distributed serving shape: Lucene's
        BooleanScorer walks all clause postings in one pass
        (search/BooleanScorer.java:262-285); a union of N scans re-reads the
        postings source N times and schedules N Python stages. Falls back
        (returns None) for non-term clauses or repeated terms."""
        clauses = must + should
        if len(clauses) < 2:
            return None
        if not all(isinstance(sq, TermQuery) for sq in clauses):
            return None
        if any(sq.field is not None for sq in clauses):
            # field-qualified clauses route to per-field indexes
            # (MultiFieldSearcher._eval) — they can't share one scan
            return None
        terms_all = [sq.term for sq in clauses]
        if len(set(terms_all)) != len(terms_all):
            return None
        stats = self.term_stats(terms_all)
        present = [sq for sq in clauses if sq.term in stats]
        if not present:
            return self._empty().withColumn("is_must", F.lit(0))
        must_terms = {sq.term for sq in must}
        # MUST clauses are always scored (the reference scores required
        # clauses even under a non-scoring collector); SHOULD clauses score
        # 1.0 when scores aren't needed — identical to the per-clause path.
        const_terms = (
            set() if needs_scores else {sq.term for sq in should if sq.term in stats}
        )
        scorers = {
            sq.term: self.scorer_for(sq.boost, stats[sq.term]) for sq in present
        }

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                outs = []
                for row in pdf.itertuples(index=False):
                    n = int(row.count)
                    docs, freqs, norms = codec.decode_block_row(row)
                    if row.term in const_terms:
                        sc = np.ones(n, dtype=np.float64)
                    else:
                        sc = scorers[row.term].score(freqs, norms).astype(np.float64)
                    outs.append(
                        pd.DataFrame(
                            {
                                "doc_id": docs,
                                "score": sc,
                                "is_must": np.repeat(
                                    np.int32(1 if row.term in must_terms else 0), n
                                ),
                            }
                        )
                    )
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        return self._postings_for(list(scorers)).mapInPandas(
            run, schema="doc_id long, score double, is_must int"
        )

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
        schema = "term string, doc_id long, freq int, norm int"
        if with_positions:
            schema += ", positions array<int>"

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                outs = []
                for row in pdf.itertuples(index=False):
                    n = int(row.count)
                    docs, freqs, norms = codec.decode_block_row(row)
                    d = {
                        "term": np.repeat(row.term, n),
                        "doc_id": docs,
                        "freq": freqs.astype(np.int32),
                        "norm": norms.astype(np.int32),
                    }
                    if with_positions:
                        pos = codec.decode_positions(bytes(row.pos_enc), freqs)
                        bounds = np.cumsum(freqs)[:-1]
                        d["positions"] = [a.astype(np.int32) for a in np.split(pos, bounds)]
                    outs.append(pd.DataFrame(d))
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        return self._postings_for(terms).mapInPandas(run, schema=schema)

    def decode_docs_only(self, terms: Sequence[str]) -> DataFrame:
        """Just matching doc_ids (distinct) — FILTER / constant-score path."""

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                outs = [
                    codec.decode_block_docs(r) for r in pdf.itertuples(index=False)
                ]
                if outs:
                    yield pd.DataFrame({"doc_id": np.concatenate(outs)})

        return (
            self._postings_for(terms)
            .mapInPandas(run, schema="doc_id long")
            .distinct()
        )

    # ---------------- evaluation ----------------

    def _eval(self, q: Query, needs_scores: bool) -> DataFrame:
        from .query import TermAutomatonQuery

        if isinstance(q, TermAutomatonQuery):
            return self._eval_term_automaton(q)
        if isinstance(q, MatchNoDocsQuery):
            return self._empty()
        if isinstance(q, MatchAllDocsQuery):
            return self.index.docs.select(
                "doc_id", (F.lit(float(np.float32(q.boost)))).alias("score")
            )
        if isinstance(q, TermQuery):
            return self._eval_term(q, needs_scores)
        if isinstance(q, SynonymQuery):
            return self._eval_synonym(q)
        if isinstance(q, BlendedTermQuery):
            return self._eval_blended(q)
        if isinstance(q, BooleanQuery):
            return self._eval_bool(q, needs_scores)
        if isinstance(q, DisjunctionMaxQuery):
            return self._eval_dismax(q)
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
            return self._eval_span_first(q)
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

    def _eval_term(self, q: TermQuery, needs_scores: bool) -> DataFrame:
        st = self.term_stats([q.term]).get(q.term)
        if st is None:
            return self._empty()
        if not needs_scores:
            return self.decode_docs_only([q.term]).withColumn("score", F.lit(1.0))
        scorer = self.scorer_for(q.boost, st)
        if st.doc_freq == 1:
            # singleton pulsing fast path: posting inlined in the terms table
            score = float(
                scorer.score(np.array([st.singleton_freq]), np.array([st.singleton_norm]))[0]
            )
            return self.spark.createDataFrame(
                [(st.singleton_doc_id, score)], MATCH_SCHEMA
            )
        return self.decode_scored({q.term: scorer})

    def _eval_blended(self, q: BlendedTermQuery) -> DataFrame:
        """BlendedTermQuery (core/search/BlendedTermQuery.java:271-300):
        score every term with the ARTIFICIAL stats df = max(df_i),
        ttf = sum(ttf_i) (one decode job for all terms), then combine
        per the rewrite method (dismax with tie, or SHOULD sum)."""
        from .similarities import TermStatsIn

        terms = list(q.terms)
        boosts = list(q.boosts) if q.boosts else [1.0] * len(terms)
        if len(boosts) != len(terms):
            raise ValueError("boosts must match terms")
        stats = self.term_stats(sorted(set(terms)))
        present = [(t, b) for t, b in zip(terms, boosts) if t in stats]
        if not present:
            return self._empty()
        df_art = max(stats[t].doc_freq for t, _b in present)
        ttf_art = sum(stats[t].total_term_freq for t, _b in present)
        # one decode pass + one scoring kernel for ALL terms: each term's
        # scorer (same artificial stats, its own boost) runs on its slice
        # of the batch — per-row op order identical to per-term evaluation
        scorers = {
            t: self.sim.multi_scorer(
                b,
                [TermStatsIn(df_art, ttf_art)],
                self.index.stats,
                self.dtype,
            )
            for t, b in present
        }
        raw = self.decode_raw(sorted(scorers))

        @F.pandas_udf("double")
        def blended_score(
            term: pd.Series, freq: pd.Series, norm: pd.Series
        ) -> pd.Series:
            tarr = term.to_numpy(dtype=object)
            f = freq.to_numpy(np.float64)
            nb = norm.to_numpy(np.int64)
            out = np.zeros(len(tarr), dtype=np.float64)
            for t, sc in scorers.items():
                mask = tarr == t
                if mask.any():
                    out[mask] = sc.score(f[mask], nb[mask]).astype(np.float64)
            return pd.Series(out)

        u = raw.select(
            "doc_id",
            blended_score(F.col("term"), F.col("freq"), F.col("norm")).alias(
                "score"
            ),
        )
        if q.rewrite == "boolean":
            agg = u.groupBy("doc_id").agg(F.sum("score").alias("score"))
            score = F.col("score")
        elif q.rewrite == "dismax":
            agg = u.groupBy("doc_id").agg(
                F.max("score").alias("mx"), F.sum("score").alias("sm")
            )
            score = F.col("mx") + F.lit(float(q.tie_breaker)) * (
                F.col("sm") - F.col("mx")
            )
        else:
            raise ValueError(f"unknown rewrite {q.rewrite!r}")
        if q.boost != 1.0:
            score = score * F.lit(float(q.boost))
        return agg.select("doc_id", score.alias("score"))

    def _eval_synonym(self, q: SynonymQuery) -> DataFrame:
        """SynonymQuery: terms scored as one pseudo-term — max docFreq for idf,
        per-doc summed tf (search/SynonymQuery.java)."""
        stats = self.term_stats(q.terms)
        if not stats:
            return self._empty()
        df_blend = max(s.doc_freq for s in stats.values())
        ttf_blend = max(s.total_term_freq for s in stats.values())
        scorer = self.scorer_for(
            q.boost,
            TermStats(df_blend, ttf_blend, -1, 0, 0),
        )
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
        must = [c.query for c in q.clauses if c.occur == Occur.MUST]
        should = [c.query for c in q.clauses if c.occur == Occur.SHOULD]
        filters = [c.query for c in q.clauses if c.occur == Occur.FILTER]
        must_not = [c.query for c in q.clauses if c.occur == Occur.MUST_NOT]
        msm = q.minimum_should_match

        base: Optional[DataFrame] = None
        u = self._fused_bool_scored(must, should, needs_scores)
        if u is None:
            parts = []
            for sq in must:
                parts.append(
                    self._eval(sq, True).select(
                        "doc_id", "score", F.lit(1).alias("is_must")
                    )
                )
            for sq in should:
                parts.append(
                    self._eval(sq, needs_scores).select(
                        "doc_id", "score", F.lit(0).alias("is_must")
                    )
                )
        else:
            parts = [u]
        if parts:
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p)
            agg = u.groupBy("doc_id").agg(
                F.sum("score").alias("score"),
                F.sum("is_must").alias("n_must"),
                F.count("*").alias("n_clauses"),
            )
            cond = F.col("n_must") == len(must)
            n_should = F.col("n_clauses") - F.col("n_must")
            if must:
                if msm > 0:
                    cond = cond & (n_should >= msm)
            else:
                cond = cond & (n_should >= max(msm, 1))
            base = agg.filter(cond).select("doc_id", "score")
        elif filters:
            base = self._docset(filters[0]).withColumn("score", F.lit(1.0))
            filters = filters[1:]
        else:
            return self._empty()

        # lead cost for the cache's skip factor = the scoring side's
        # cheapest iterator (ScorerSupplier.get's leadCost role)
        lead_costs = [self._driver_cost(sq) for sq in must + should]
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

    def _eval_dismax(self, q: DisjunctionMaxQuery) -> DataFrame:
        parts = [self._eval(d, True) for d in q.disjuncts]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        tie = float(q.tie_breaker)
        agg = u.groupBy("doc_id").agg(
            F.max("score").alias("mx"), F.sum("score").alias("sm")
        )
        score = F.col("mx") + F.lit(tie) * (F.col("sm") - F.col("mx"))
        if q.boost != 1.0:
            score = score * F.lit(float(q.boost))
        return agg.select("doc_id", score.alias("score"))

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

        @F.pandas_udf("double")
        def phrase_freq(plist: pd.Series) -> pd.Series:
            from . import matchers

            n_docs = len(plist)
            pos_by_term = {t: [None] * n_docs for t in set(terms_t)}
            for i, entries in enumerate(plist):
                for e in entries:
                    pos_by_term[e["term"]][i] = np.asarray(
                        e["positions"], dtype=np.int64
                    )
            if slop == 0:
                out = matchers.exact_phrase_freqs(
                    pos_by_term, terms_t, n_docs
                ).astype(np.float64)
            else:
                out = matchers.sloppy_phrase_freqs(pos_by_term, terms_t, slop, n_docs)
            return pd.Series(out)

        grouped = (
            raw.groupBy("doc_id")
            .agg(
                F.count("*").alias("nt"),
                F.first("norm").alias("norm"),
                F.collect_list(F.struct("term", "positions")).alias("plist"),
            )
            .filter(F.col("nt") == len(set(terms)))
        )
        scored = grouped.withColumn("freq", phrase_freq(F.col("plist"))).filter(
            F.col("freq") > 0
        )
        return self._score_freq_norm(scored.select("doc_id", "freq", "norm"), scorer)

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

        @F.pandas_udf("double")
        def ta_freq(plist: pd.Series) -> pd.Series:
            out = np.zeros(len(plist), dtype=np.float64)
            for i, entries in enumerate(plist):
                events = []
                for e in entries:
                    t = e["term"]
                    for p in e["positions"]:
                        events.append((int(p), t))
                events.sort()
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
            return pd.Series(out)

        grouped = raw.groupBy("doc_id").agg(
            F.first("norm").alias("norm"),
            F.collect_list(F.struct("term", "positions")).alias("plist"),
        )
        scored = grouped.withColumn("freq", ta_freq(F.col("plist"))).filter(
            F.col("freq") > 0
        )
        return self._score_freq_norm(scored.select("doc_id", "freq", "norm"), scorer)

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

    def _grouped_positions(self, terms: Sequence[str], min_terms: int) -> DataFrame:
        """(doc_id, norm, plist=[{term, positions}]) for docs containing at
        least min_terms distinct of the given terms."""
        if not self.index.config.with_positions:
            # IndexOptions mismatch — same failure Lucene raises when a
            # PhraseQuery hits a field indexed without positions
            raise ValueError(
                "positional query on an index built with with_positions=False"
            )
        raw = self.decode_raw(sorted(set(terms)), with_positions=True)
        return (
            raw.groupBy("doc_id")
            .agg(
                F.count("*").alias("nt"),
                F.first("norm").alias("norm"),
                F.collect_list(F.struct("term", "positions")).alias("plist"),
            )
            .filter(F.col("nt") >= min_terms)
        )

    def _eval_multi_phrase(self, q: MultiPhraseQuery) -> DataFrame:
        """MultiPhraseQuery: slot i matches any alternative at start+i; freq =
        number of distinct start positions (search/MultiPhraseQuery.java —
        UnionPostingsEnum per slot + exact phrase matcher); idf summed over
        every term in every slot, like the Weight's allTermStats. slop > 0
        runs SloppyPhraseMatcher over the per-slot unions — including the
        hasMultiTermRpts repeat machinery
        (matchers.sloppy_multi_phrase_freqs)."""
        slots = [tuple(s) for s in q.slots]
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
        if int(q.slop) > 0:
            return self._eval_multi_phrase_sloppy(q, slots, present, scorer)

        @F.pandas_udf("int")
        def mp_freq(plist: pd.Series) -> pd.Series:
            out = np.zeros(len(plist), dtype=np.int32)
            for i, entries in enumerate(plist):
                pos_by_term = {e["term"]: np.asarray(e["positions"]) for e in entries}
                cands: Optional[np.ndarray] = None
                ok = True
                for off, alts in enumerate(slots):
                    ps = [pos_by_term[t] for t in alts if t in pos_by_term]
                    if not ps:
                        ok = False
                        break
                    slot_pos = np.unique(np.concatenate(ps)) - off
                    cands = slot_pos if cands is None else np.intersect1d(cands, slot_pos)
                if ok and cands is not None:
                    out[i] = int((cands >= 0).sum())
            return pd.Series(out)

        grouped = self._grouped_positions(present, min_terms=1)
        scored = grouped.withColumn("freq", mp_freq(F.col("plist"))).filter(
            F.col("freq") > 0
        )
        return self._score_freq_norm(scored.select("doc_id", "freq", "norm"), scorer)

    def _eval_multi_phrase_sloppy(
        self, q: MultiPhraseQuery, slots, present, scorer
    ) -> DataFrame:
        """Sloppy MultiPhraseQuery (MultiPhraseQuery.setSlop →
        SloppyPhraseMatcher over UnionPostingsEnum streams): the per-slot
        union position lists feed the repeat-aware walk — alternatives
        shared between slots take the reference's hasMultiTermRpts path
        (tpPos collisions, collide-chase init; see
        matchers.sloppy_multi_phrase_freqs)."""
        slots_t = tuple(tuple(s) for s in slots)
        slop = int(q.slop)
        present_t = tuple(present)

        @F.pandas_udf("double")
        def mps_freq(plist: pd.Series) -> pd.Series:
            from . import matchers

            n_docs = len(plist)
            by_term = {t: [None] * n_docs for t in present_t}
            for i, entries in enumerate(plist):
                for e in entries:
                    by_term[e["term"]][i] = np.asarray(
                        e["positions"], dtype=np.int64
                    )
            # absent-in-index alternatives never contribute positions
            full = {t: by_term.get(t, [None] * n_docs) for s in slots_t for t in s}
            return pd.Series(
                matchers.sloppy_multi_phrase_freqs(full, slots_t, slop, n_docs)
            )

        grouped = self._grouped_positions(present, min_terms=1)
        scored = grouped.withColumn("freq", mps_freq(F.col("plist"))).filter(
            F.col("freq") > 0
        )
        return self._score_freq_norm(scored.select("doc_id", "freq", "norm"), scorer)

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

        @F.pandas_udf("double")
        def span_freq(plist: pd.Series) -> pd.Series:
            from . import matchers

            n_docs = len(plist)
            by_term = {t: [None] * n_docs for t in set(terms_t)}
            for i, entries in enumerate(plist):
                for e in entries:
                    by_term[e["term"]][i] = np.asarray(e["positions"], dtype=np.int64)
            pos_by_clause = [by_term[t] for t in terms_t]
            if in_order:
                out = matchers.span_ordered_freqs(pos_by_clause, slop, n_docs)
            else:
                out = matchers.span_unordered_freqs(
                    pos_by_clause, slop, n_docs, distinct=distinct
                )
            return pd.Series(out)

        grouped = self._grouped_positions(terms, min_terms=len(set(terms)))
        scored = grouped.withColumn("freq", span_freq(F.col("plist"))).filter(
            F.col("freq") > 0
        )
        return self._score_freq_norm(scored.select("doc_id", "freq", "norm"), scorer)

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

        @F.pandas_udf("double")
        def span_freq(plist: pd.Series) -> pd.Series:
            from . import matchers

            by_slot, n_docs = _slot_position_lists(plist, slots_t, present)
            if in_order:
                out = matchers.span_ordered_freqs(by_slot, slop, n_docs)
            else:
                out = matchers.span_unordered_freqs(
                    by_slot, slop, n_docs, distinct=False
                )
            return pd.Series(out)

        disjoint = all(
            not (set(slots_t[i]) & set(slots_t[j]))
            for i in range(len(slots_t))
            for j in range(i + 1, len(slots_t))
        )
        min_terms = len(slots_t) if disjoint else 1
        grouped = self._grouped_positions(present, min_terms=min_terms)
        scored = grouped.withColumn("freq", span_freq(F.col("plist"))).filter(
            F.col("freq") > 0
        )
        return self._score_freq_norm(scored.select("doc_id", "freq", "norm"), scorer)

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

        @F.pandas_udf("double")
        def iv_freq(plist: pd.Series) -> pd.Series:
            from . import matchers

            n_docs = len(plist)
            by_term = {t: [None] * n_docs for t in set(terms_t)}
            for i, entries in enumerate(plist):
                for e in entries:
                    by_term[e["term"]][i] = np.asarray(e["positions"], dtype=np.int64)
            if ordered:
                out = matchers.interval_freqs(
                    [by_term[t] for t in terms_t],
                    True,
                    max_gaps,
                    n_docs,
                    min_extent=min_extent,
                    max_width=max_width,
                )
            elif has_dups:
                out = matchers.unordered_intervals_dups_freqs(
                    by_term, counts, max_gaps, n_docs, max_width=max_width
                )
            else:
                out = matchers.interval_freqs(
                    [by_term[t] for t in terms_t], False, max_gaps, n_docs,
                    max_width=max_width,
                )
            return pd.Series(out)

        grouped = self._grouped_positions(terms, min_terms=len(set(terms)))
        scored = grouped.withColumn("freq", iv_freq(F.col("plist"))).filter(
            F.col("freq") > 0
        )
        pivot = float(q.pivot)
        return scored.select(
            "doc_id",
            (
                F.lit(float(q.boost))
                * (F.lit(1.0) - F.lit(pivot) / (F.col("freq") + F.lit(pivot)))
            ).alias("score"),
        )

    def _eval_span_contain(self, q: "SpanContainQuery") -> DataFrame:
        """SpanContainingQuery / SpanWithinQuery: per doc, enumerate each
        operand's actual span stream (term points, NearSpansOrdered greedy
        chains, NearSpansUnordered matching states — matchers.py), then run
        the reference's two-pointer containment cursor. Docs need every
        term of both operands (ConjunctionSpans approximation); freq =
        Σ 1/(1+(end-start)) over the emitted source spans; idf summed over
        the distinct operand terms in sorted order (SpanWeight builds its
        scorer from the term-sorted states map)."""

        def spec(op):
            if isinstance(op, str):
                return ("term", (op,), 0, True)
            if isinstance(op, SpanNearQuery):
                return ("near", tuple(op.terms), int(op.slop), bool(op.in_order))
            raise NotImplementedError(f"span contain operand {type(op).__name__}")

        big_spec, little_spec = spec(q.big), spec(q.little)
        all_terms = sorted({t for s in (big_spec, little_spec) for t in s[1]})
        stats = self.term_stats(all_terms)
        if any(t not in stats for t in all_terms):
            return self._empty()
        scorer = self.multi_scorer_for(q.boost, [stats[t] for t in all_terms])
        kind = "containing" if q.kind == "containing" else "within"

        @F.pandas_udf("double")
        def contain_freq(plist: pd.Series) -> pd.Series:
            from . import matchers

            n_docs = len(plist)
            by_term = {t: [None] * n_docs for t in all_terms}
            for i, entries in enumerate(plist):
                for e in entries:
                    by_term[e["term"]][i] = np.asarray(e["positions"], dtype=np.int64)

            def doc_spans(sp, d):
                mode, terms, slop, in_order = sp
                lists = [by_term[t][d] for t in terms]
                if mode == "term":
                    p = lists[0]
                    if p is None:
                        return np.empty(0, np.int64), np.empty(0, np.int64)
                    return p, p + 1
                if in_order:
                    return matchers.ordered_chain_spans(lists, slop)
                return matchers.unordered_state_spans(lists, slop)

            out = np.zeros(n_docs, dtype=np.float64)
            for d in range(n_docs):
                bs, be = doc_spans(big_spec, d)
                ls, le = doc_spans(little_spec, d)
                if len(bs) == 0 or len(ls) == 0:
                    continue
                es, ee = matchers.span_contain_filter(kind, bs, be, ls, le)
                if len(es):
                    out[d] = np.sum(1.0 / (1.0 + (ee - es).astype(np.float64)))
            return pd.Series(out)

        grouped = self._grouped_positions(all_terms, min_terms=len(all_terms))
        scored = grouped.withColumn("freq", contain_freq(F.col("plist"))).filter(
            F.col("freq") > 0
        )
        return self._score_freq_norm(scored.select("doc_id", "freq", "norm"), scorer)

    def _eval_intervals_slots(self, q: IntervalQuery, slots) -> DataFrame:
        """IntervalQuery with OR-alternation slots: per slot, the minimal
        intervals of Intervals.or over point terms are the sorted union of
        the alternatives' positions; the ordered/unordered staircases then
        run on per-slot point lists unchanged. minExtent = slot count."""
        ordered, max_gaps = bool(q.ordered), int(q.max_gaps)
        max_width = int(getattr(q, "max_width", -1))
        slots_t = tuple(tuple(s) for s in slots)
        all_terms = sorted({t for s in slots_t for t in s})

        @F.pandas_udf("double")
        def ivs_freq(plist: pd.Series) -> pd.Series:
            from . import matchers

            by_slot, n_docs = _slot_position_lists(plist, slots_t, all_terms)
            return pd.Series(
                matchers.interval_freqs(
                    by_slot, ordered, max_gaps, n_docs,
                    min_extent=len(slots_t), max_width=max_width,
                )
            )

        grouped = self._grouped_positions(all_terms, min_terms=1)
        scored = grouped.withColumn("freq", ivs_freq(F.col("plist"))).filter(
            F.col("freq") > 0
        )
        pivot = float(q.pivot)
        return scored.select(
            "doc_id",
            (
                F.lit(float(q.boost))
                * (F.lit(1.0) - F.lit(pivot) / (F.col("freq") + F.lit(pivot)))
            ).alias("score"),
        )

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

        @F.pandas_udf("double")
        def ext_freq(plist: pd.Series) -> pd.Series:
            from . import matchers

            by_slot, n_docs = _slot_position_lists(plist, slots_t, all_terms)
            return pd.Series(
                matchers.extended_interval_freqs(
                    by_slot,
                    ordered,
                    max_gaps,
                    n_docs,
                    before,
                    after,
                    min_extent=len(slots_t),
                )
            )

        grouped = self._grouped_positions(all_terms, min_terms=1)
        scored = grouped.withColumn("freq", ext_freq(F.col("plist"))).filter(
            F.col("freq") > 0
        )
        return self._interval_saturation(scored, q.boost, q.pivot)

    def _eval_intervals_atleast(self, q: AtLeastIntervalQuery) -> DataFrame:
        """Intervals.atLeast(minShouldMatch, sources...)
        (queries/intervals/MinimumShouldMatchIntervalsSource.java): minimal
        windows covering at least m of the point slots
        (matchers.atleast_interval_freqs). A doc is a candidate once it
        holds m distinct slots, so the positions pre-group prunes on
        min_terms = m when every slot is a single term."""
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

        @F.pandas_udf("double")
        def al_freq(plist: pd.Series) -> pd.Series:
            from . import matchers

            by_slot, n_docs = _slot_position_lists(plist, slots_t, all_terms)
            return pd.Series(
                matchers.atleast_interval_freqs(by_slot, m, max_gaps, n_docs)
            )

        grouped = self._grouped_positions(all_terms, min_terms=m if single else 1)
        scored = grouped.withColumn("freq", al_freq(F.col("plist"))).filter(
            F.col("freq") > 0
        )
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
            min_terms = (
                len(all_terms) if conj else len({s[0] for s in src_slots})
            )
        else:
            min_terms = 1  # alternation slots: membership decided in-kernel
        kind = q.kind
        b_ext = int(q.positions) if kind in ("within", "not_within") else 0
        sslots_t = tuple(tuple(s) for s in src_slots)
        rslots_t = tuple(tuple(s) for s in ref_slots)
        s_ord, s_mg = bool(src.ordered), int(src.max_gaps)
        r_ord, r_mg = bool(ref.ordered), int(ref.max_gaps)
        s_mw = int(getattr(src, "max_width", -1))
        r_mw = int(getattr(ref, "max_width", -1))

        @F.pandas_udf("double")
        def ivf_freq(plist: pd.Series) -> pd.Series:
            from . import matchers

            by_slot, n_docs = _slot_position_lists(
                plist, sslots_t + rslots_t, all_terms
            )
            return pd.Series(
                matchers.interval_filter_freqs(
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
            )

        grouped = self._grouped_positions(all_terms, min_terms=min_terms)
        scored = grouped.withColumn("freq", ivf_freq(F.col("plist"))).filter(
            F.col("freq") > 0
        )
        pivot = float(q.pivot)
        return scored.select(
            "doc_id",
            (
                F.lit(float(q.boost))
                * (F.lit(1.0) - F.lit(pivot) / (F.col("freq") + F.lit(pivot)))
            ).alias("score"),
        )

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
        import os

        from pyspark.sql import Window

        bsz = int(os.environ.get("LUCENE_SPARK_BLOCKJOIN_BUCKET", 1 << 20))
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

        @F.pandas_udf("double")
        def nov_freq(plist: pd.Series) -> pd.Series:
            from . import matchers

            by_slot, n_docs = _slot_position_lists(plist, slots_t, all_terms)
            return pd.Series(
                matchers.no_overlaps_interval_freqs(
                    by_slot[0], by_slot[1], n_docs
                )
            )

        # both operands must appear: disjoint slots need >= 2 distinct terms
        min_terms = 2 if not (set(slots_t[0]) & set(slots_t[1])) else 1
        grouped = self._grouped_positions(all_terms, min_terms=min_terms)
        scored = grouped.withColumn("freq", nov_freq(F.col("plist"))).filter(
            F.col("freq") > 0
        )
        pivot = float(q.pivot)
        return scored.select(
            "doc_id",
            (
                F.lit(float(q.boost))
                * (F.lit(1.0) - F.lit(pivot) / (F.col("freq") + F.lit(pivot)))
            ).alias("score"),
        )

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

        def spec(op):
            if isinstance(op, str):
                return ("term", (op,), 0, True)
            if isinstance(op, SpanNearQuery):
                return ("near", tuple(op.terms), int(op.slop), bool(op.in_order))
            raise NotImplementedError(f"span not operand {type(op).__name__}")

        inc_spec = spec(q.include)
        exc_specs = tuple(spec(x) for x in q.exclude)
        inc_terms = sorted(set(inc_spec[1]))
        every = sorted({t for s in (inc_spec,) + exc_specs for t in s[1]})
        stats = self.term_stats(every)
        if any(t not in stats for t in inc_terms):
            return self._empty()
        scorer = self.multi_scorer_for(q.boost, [stats[t] for t in inc_terms])
        all_terms = [t for t in every if t in stats]
        pre, post = int(q.pre), int(q.post)

        @F.pandas_udf("double")
        def span_not_freq(plist: pd.Series) -> pd.Series:
            from . import matchers

            n_docs = len(plist)
            by_term = {t: [None] * n_docs for t in all_terms}
            for i, entries in enumerate(plist):
                for e in entries:
                    by_term[e["term"]][i] = np.asarray(
                        e["positions"], dtype=np.int64
                    )

            def doc_spans(sp, d):
                mode, terms, slop, in_order = sp
                lists = [by_term.get(t, [None] * n_docs)[d] for t in terms]
                if any(p is None for p in lists):
                    return np.empty(0, np.int64), np.empty(0, np.int64)
                if mode == "term":
                    p = lists[0]
                    return p, p + 1
                if in_order:
                    return matchers.ordered_chain_spans(lists, slop)
                return matchers.unordered_state_spans(lists, slop)

            out = np.zeros(n_docs, dtype=np.float64)
            for d in range(n_docs):
                cs, ce = doc_spans(inc_spec, d)
                if len(cs) == 0:
                    continue
                xs_all, xe_all = [], []
                for sp in exc_specs:
                    xs, xe = doc_spans(sp, d)
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
                    out[d] = np.sum(1.0 / (1.0 + (ce - cs).astype(np.float64)))
            return pd.Series(out)

        grouped = self._grouped_positions(all_terms, min_terms=1)
        scored = grouped.withColumn(
            "freq", span_not_freq(F.col("plist"))
        ).filter(F.col("freq") > 0)
        return self._score_freq_norm(scored.select("doc_id", "freq", "norm"), scorer)

    def _eval_span_first(self, q: SpanFirstQuery) -> DataFrame:
        """SpanFirstQuery (search/spans/SpanFirstQuery.java): spans ending
        within the first ``end`` positions — point span p matches iff
        p + 1 <= end. JVM array filter over the decoded positions."""
        st = self.term_stats([q.term]).get(q.term)
        if st is None:
            return self._empty()
        scorer = self.multi_scorer_for(q.boost, [st])
        raw = self.decode_raw([q.term], with_positions=True)
        end = int(q.end)
        scored = raw.select(
            "doc_id",
            "norm",
            (
                F.size(F.filter(F.col("positions"), lambda p: p + 1 <= F.lit(end)))
                * F.lit(0.5)
            ).alias("freq"),
        ).filter(F.col("freq") > 0)
        return self._score_freq_norm(scored.select("doc_id", "freq", "norm"), scorer)

    def _eval_span_position_range(self, q: SpanPositionRangeQuery) -> DataFrame:
        """SpanPositionRangeQuery (search/spans/SpanPositionRangeQuery.java):
        keep spans with spanStart >= start and spanEnd <= end. A term
        operand is a pure JVM array filter over the decoded positions (the
        SpanFirst shape plus the lower edge); a SpanNearQuery operand runs
        the near walk (matchers.py span streams) and filters the emitted
        match windows."""
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
            return self._score_freq_norm(
                scored.select("doc_id", "freq", "norm"), scorer
            )
        if not isinstance(q.match, SpanNearQuery):
            raise NotImplementedError(
                f"span position-range operand {type(q.match).__name__}"
            )
        sub = q.match
        terms = list(sub.terms)
        stats = self.term_stats(terms)
        if any(t not in stats for t in terms):
            return self._empty()
        scorer = self.multi_scorer_for(q.boost, [stats[t] for t in terms])
        slop, in_order = int(sub.slop), bool(sub.in_order)
        terms_t = tuple(terms)

        @F.pandas_udf("double")
        def pr_freq(plist: pd.Series) -> pd.Series:
            from . import matchers

            n_docs = len(plist)
            by_term = {t: [None] * n_docs for t in set(terms_t)}
            for i, entries in enumerate(plist):
                for e in entries:
                    by_term[e["term"]][i] = np.asarray(
                        e["positions"], dtype=np.int64
                    )
            out = np.zeros(n_docs, dtype=np.float64)
            for d in range(n_docs):
                lists = [by_term[t][d] for t in terms_t]
                if any(p is None for p in lists):
                    continue
                if in_order:
                    ss, ee = matchers.ordered_chain_spans(lists, slop)
                else:
                    ss, ee = matchers.unordered_state_spans(lists, slop)
                keep = (ss >= lo) & (ee <= hi)
                if keep.any():
                    out[d] = np.sum(
                        1.0 / (1.0 + (ee[keep] - ss[keep]).astype(np.float64))
                    )
            return pd.Series(out)

        grouped = self._grouped_positions(terms, min_terms=len(set(terms)))
        scored = grouped.withColumn("freq", pr_freq(F.col("plist"))).filter(
            F.col("freq") > 0
        )
        return self._score_freq_norm(scored.select("doc_id", "freq", "norm"), scorer)

    def _eval_multi_term(self, q: Query) -> DataFrame:
        """MultiTermQuery family, CONSTANT_SCORE_REWRITE
        (search/MultiTermQuery.java CONSTANT_SCORE_BLENDED/REWRITE): matching
        docs get score == boost. The expansion stays DISTRIBUTED — postings
        semi-joined against the filtered terms table — mirroring the
        reference's uncapped bitset rewrite: CONSTANT_SCORE has NO clause
        cap; the 1024 cap applies only to scoring boolean rewrites, where
        the reference throws TooManyClauses (see expand_terms)."""
        matching = self._terms_scan(q).filter(self._multi_term_cond(q)).select("term")
        docs = self._decode_docs_for(matching)
        return docs.withColumn("score", F.lit(float(np.float32(q.boost))))

    def _decode_docs_for(self, terms_df: DataFrame) -> DataFrame:
        """Distinct matching doc_ids for a (possibly large) DataFrame of
        terms — no driver round-trip; AQE picks broadcast vs shuffle join."""

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                outs = [
                    codec.decode_block_docs(r) for r in pdf.itertuples(index=False)
                ]
                if outs:
                    yield pd.DataFrame({"doc_id": np.concatenate(outs)})

        blocks = self.index.postings.join(terms_df, "term", "left_semi")
        return blocks.mapInPandas(run, schema="doc_id long").distinct()

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
        if self._stats_cache is not None:
            return len(self._stats_cache)
        if self._vocab_count is None:
            self._vocab_count = self.index.terms.count()
        return self._vocab_count

    def _terms_scan(self, q: Query) -> DataFrame:
        """The terms-dictionary frame a MultiTermQuery filters — q-gram
        pruned for fuzzy when the index is enabled (auto-enabled above the
        LUCENE_SPARK_FUZZY_NGRAM_AUTO vocabulary threshold, default 100k;
        <=0 disables auto)."""
        if isinstance(q, FuzzyQuery):
            if self._ngram_terms is None and not self._fuzzy_auto_checked:
                self._fuzzy_auto_checked = True
                auto = int(
                    os.environ.get("LUCENE_SPARK_FUZZY_NGRAM_AUTO", 100_000)
                )
                if auto > 0 and self._vocab_size() >= auto:
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

    Field-qualified queries bypass the single-index prune/hot fast paths
    (they stay available on the per-field Searchers themselves).
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

    def search(self, q: Query, k: int = 10, prune: bool = False) -> DataFrame:
        return self._topk(self.matches(q), k)

    def _eval(self, q: Query, needs_scores: bool) -> DataFrame:
        import dataclasses

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
        clauses = [ft for s in slots for ft in s]
        by_field: Dict[str, List[str]] = {}
        for f, t in clauses:
            by_field.setdefault(f, []).append(t)
        stats_by_field = {}
        for f, ts in by_field.items():
            sub = self.searchers.get(f)
            if sub is None:
                return self._empty()
            stats_by_field[f] = sub.term_stats(ts)
        # conjunction: every slot needs at least one present alternative
        if any(
            all(t not in stats_by_field[f] for f, t in s) for s in slots
        ):
            return self._empty()
        raws = []
        for f, ts in by_field.items():
            raws.append(
                self.searchers[f]
                .decode_raw(sorted(set(ts)), with_positions=True)
                .select(
                    F.concat(F.lit(f + "\x00"), F.col("term")).alias("term"),
                    "doc_id",
                    "positions",
                )
            )
        raw = raws[0]
        for r in raws[1:]:
            raw = raw.unionByName(r)
        # per-slot alternative keys, absent alternatives dropped
        slot_keys = tuple(
            tuple(
                f + "\x00" + t for f, t in s if t in stats_by_field[f]
            )
            for s in slots
        )
        disjoint = all(
            not (set(slot_keys[i]) & set(slot_keys[j]))
            for i in range(len(slot_keys))
            for j in range(i + 1, len(slot_keys))
        )
        min_keys = len(slot_keys) if disjoint else 1
        grouped = (
            raw.groupBy("doc_id")
            .agg(
                F.count("*").alias("nt"),
                F.collect_list(F.struct("term", "positions")).alias("plist"),
            )
            .filter(F.col("nt") >= min_keys)
        )
        ordered, max_gaps = bool(q.ordered), int(q.max_gaps)
        max_width = int(getattr(q, "max_width", -1))
        all_keys = tuple(sorted({k for s in slot_keys for k in s}))

        @F.pandas_udf("double")
        def ff_freq(plist: pd.Series) -> pd.Series:
            from . import matchers

            by_slot, n_docs = _slot_position_lists(plist, slot_keys, all_keys)
            return pd.Series(
                matchers.interval_freqs(
                    by_slot, ordered, max_gaps, n_docs,
                    min_extent=len(slot_keys), max_width=max_width,
                )
            )

        scored = grouped.withColumn("freq", ff_freq(F.col("plist"))).filter(
            F.col("freq") > 0
        )
        pivot = float(q.pivot)
        return scored.select(
            "doc_id",
            (
                F.lit(float(q.boost))
                * (F.lit(1.0) - F.lit(pivot) / (F.col("freq") + F.lit(pivot)))
            ).alias("score"),
        )

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
        by_field: Dict[str, List[str]] = {}
        for f, t in clauses:
            by_field.setdefault(f, []).append(t)
        stats_by_field = {}
        for f, ts in by_field.items():
            sub = self.searchers.get(f)
            if sub is None:
                return self._empty()
            stats_by_field[f] = sub.term_stats(ts)
        sts = []
        for f, t in clauses:
            st = stats_by_field[f].get(t)
            if st is None:
                return self._empty()
            sts.append(st)
        # term stats keep their source field; collection stats + norms
        # come from the mask field's index
        scorer = mask.multi_scorer_for(q.boost, sts)
        raws = []
        for f, ts in by_field.items():
            raws.append(
                self.searchers[f]
                .decode_raw(sorted(set(ts)), with_positions=True)
                .select(
                    F.concat(F.lit(f + "\x00"), F.col("term")).alias("term"),
                    "doc_id",
                    "positions",
                )
            )
        raw = raws[0]
        for r in raws[1:]:
            raw = raw.unionByName(r)
        keys = [f + "\x00" + t for f, t in clauses]
        n_distinct = len(set(keys))
        grouped = (
            raw.groupBy("doc_id")
            .agg(
                F.count("*").alias("nt"),
                F.collect_list(F.struct("term", "positions")).alias("plist"),
            )
            .filter(F.col("nt") >= n_distinct)
        )
        slop, in_order = int(q.slop), bool(q.in_order)
        # the 2-clause closed form assumes distinct-term positions never
        # tie — valid inside one field, NOT across parallel fields (equal
        # ordinals are the masked query's whole point), so any cross-field
        # clause set takes the general merge walk whose (position, clause)
        # tie order transcribes the reference heap's
        distinct = n_distinct == len(keys) and len(by_field) == 1
        keys_t = tuple(keys)

        @F.pandas_udf("double")
        def span_freq(plist: pd.Series) -> pd.Series:
            from . import matchers

            n_docs = len(plist)
            by_key = {k: [None] * n_docs for k in set(keys_t)}
            for i, entries in enumerate(plist):
                for e in entries:
                    by_key[e["term"]][i] = np.asarray(
                        e["positions"], dtype=np.int64
                    )
            pos = [by_key[k] for k in keys_t]
            if in_order:
                out = matchers.span_ordered_freqs(pos, slop, n_docs)
            else:
                out = matchers.span_unordered_freqs(
                    pos, slop, n_docs, distinct=distinct
                )
            return pd.Series(out)

        scored = grouped.withColumn("freq", span_freq(F.col("plist"))).filter(
            F.col("freq") > 0
        )
        # norms are the MASK field's (getNormValues(getField())); a doc
        # whose clauses are all masked still scores with the mask field's
        # doc length, so join the per-doc norms table rather than ride a
        # clause posting's norm
        norms = mask.index.docs.select("doc_id", "norm")
        scored = scored.join(norms, "doc_id", "left").fillna({"norm": 0})
        return mask._score_freq_norm(
            scored.select("doc_id", "freq", "norm"), scorer
        )
