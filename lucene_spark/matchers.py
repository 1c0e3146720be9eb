"""Positional match kernels — rank-exact analogs of the reference's phrase /
span matchers, vectorized set-at-a-time wherever the algorithm allows.

All kernels run over a BATCH of candidate docs at once using the global
doc-offset trick: per-doc position arrays are concatenated with
``doc_index << 32`` added, so one sorted-merge / searchsorted pass covers the
whole Arrow batch and cross-doc artifacts are excluded by construction
(widths/gaps across a doc boundary are ~2^32, far beyond any slop).

Semantics parity (see tests/test_matchers.py for the literal-algorithm
equivalence checks):

- exact phrase: ExactPhraseMatcher (search/ExactPhraseMatcher.java) — freq =
  number of start positions where every slot term occurs at start+slot;
  computed as one offset-intersection over the batch, no per-doc loop.
- sloppy phrase: SloppyPhraseMatcher (search/SloppyPhraseMatcher.java) —
  freq = Σ 1/(1+matchLength) over the priority-queue walk's matches
  (PhraseScorer sloppyWeight). Without repeated terms the walk's emissions
  are the same-slot runs of the merged adjusted-position sequence
  (sloppy_freqs_batch); phrases with repeated terms take the
  hasRpts/advanceRpts walk (sloppy_phrase_freqs_rpts_global: literal per
  doc on a small batch, doc-lockstep above). Both run only on the docs the
  match-window prefilter keeps (_sloppy_candidates).
- ordered span near: NearSpansOrdered (search/spans/NearSpansOrdered.java) —
  for each position p0 of clause 0, the greedy monotone chain q_i =
  min{pos(clause_i) > q_{i-1}} (stretchToOrder with forward-only iterators);
  match iff chain width q_last - p0 - (n-1) <= slop, weight
  1/(1 + (q_last + 1 - p0)) (SpanScorer.setFreqCurrentDoc matchLength =
  endPosition - startPosition). Fully vectorized via searchsorted chains.
- unordered span near: NearSpansUnordered (advance-the-min-start walk over
  the per-clause iterators); each visited state with
  (maxEnd - minStart) - n <= slop contributes 1/(1 + (maxEnd - minStart)).
  Two clauses: closed form (each position x pairs with min{other > x});
  n>=3: one check per retirement of the merged order
  (span_unordered_freqs_batch).
"""

from __future__ import annotations

import heapq
from collections import Counter
from typing import Dict, List, Sequence

import numpy as np

_DOC_SHIFT = 32
_LOW_MASK = (1 << 32) - 1


def _concat_global(arrays: Sequence) -> np.ndarray:
    """Concatenate per-doc sorted position arrays into one sorted array with
    doc_index << 32 added. Empty/None docs contribute nothing."""
    parts = []
    lens = []
    for a in arrays:
        if a is None:
            lens.append(0)
            continue
        a = np.asarray(a, dtype=np.int64)
        lens.append(len(a))
        parts.append(a)
    if not parts:
        return np.empty(0, dtype=np.int64)
    flat = np.concatenate(parts)
    offs = np.repeat(
        np.arange(len(arrays), dtype=np.int64) << _DOC_SHIFT,
        np.asarray(lens, dtype=np.int64),
    )
    return flat + offs


def gather_slices(flat: np.ndarray, starts, lens) -> np.ndarray:
    """Concatenate flat[starts[i] : starts[i]+lens[i]] for all i — one
    vectorized gather, no per-slice Python loop."""
    lens = np.asarray(lens, dtype=np.int64)
    tot = int(lens.sum())
    if tot == 0:
        return np.empty(0, dtype=flat.dtype)
    cum = np.cumsum(lens)
    base = np.repeat(np.asarray(starts, dtype=np.int64), lens)
    within = np.arange(tot, dtype=np.int64) - np.repeat(cum - lens, lens)
    return flat[base + within]


def intersect_sorted(a: np.ndarray, b: np.ndarray):
    """``np.intersect1d(a, b, assume_unique=True, return_indices=True)`` for
    sorted unique arrays without concatenating and sorting them: the shorter
    side is binary-searched in the longer. Returns (common, ia, ib)."""
    if len(a) > len(b):
        common, ib, ia = intersect_sorted(b, a)
        return common, ia, ib
    if len(a) == 0:
        none = np.empty(0, dtype=np.intp)
        return a[:0], none, none
    j = np.searchsorted(b, a)
    ia = np.flatnonzero(b[np.minimum(j, len(b) - 1)] == a)
    return a[ia], ia, j[ia]


def merge_sorted_runs(runs: Sequence[np.ndarray]):
    """Merge sorted unique runs (hot-cache doc-id arrays) without a
    quicksort. A stable argsort of their concatenation is a timsort over
    presorted runs — linear — and keeps equal values in run order, so
    ``inv`` equals ``np.unique(np.concatenate(runs), return_inverse=True)``'s
    and ``np.bincount(inv, weights=...)`` sums in the same order. Returns
    (u, inv, order, starts): ``order`` sorts the concatenation and
    ``starts`` opens each distinct value's segment in it (for reduceat)."""
    cat = np.concatenate(runs)
    order = np.argsort(cat, kind="stable")
    merged = cat[order]
    first = np.ones(len(merged), dtype=bool)
    first[1:] = merged[1:] != merged[:-1]
    inv = np.empty(len(merged), dtype=np.intp)
    inv[order] = np.cumsum(first) - 1
    starts = np.flatnonzero(first)
    return merged[starts], inv, order, starts


# A combine's doc-id span may be up to this many times its postings count
# for the dense-bucket path (combine_runs). Its three span-sized buffers
# (float64 sums, float64 maxima, a bool hit mask: 17 B a slot) then stay
# within the merge path's own temporaries (about 50 B a posting). Time
# agrees: two random runs with a tie, dense / merge was 0.74-0.84 at a span
# of 3x the postings (300, 2k and 20k postings), 0.76-1.01 at 4x and up to
# 3.1 at 6x (median of 51 timings; numpy 1.26, one 4-vCPU VM).
_DENSE_SPAN = 3


def combine_runs(runs: Sequence[tuple], tie=None):
    """Per-doc combine of (sorted unique docs, float64 scores) runs: the sum
    in run order, or with ``tie`` max + tie × (sum − max). Returns (docs,
    combined) in doc order. A doc-id span of at most _DENSE_SPAN × the
    postings count takes _dense_combine (BooleanScorer's bucket table);
    wider spans (gapped ids, ids far apart) take _merged_combine."""
    full = [d for d, _s in runs if len(d)]
    if not full:
        return runs[0]
    lo = min(int(d[0]) for d in full)
    hi = max(int(d[-1]) for d in full)
    if hi - lo < _DENSE_SPAN * sum(len(d) for d in full):
        return _dense_combine(runs, tie, lo, hi - lo + 1)
    return _merged_combine(runs, tie)


def _dense_combine(runs: Sequence[tuple], tie, lo: int, span: int):
    """combine_runs over a span-sized bucket table: each run adds into
    ``acc[doc - lo]`` in run order, the same additions from 0.0 that
    bincount makes, so the sums are bit-identical to _merged_combine's."""
    acc = np.zeros(span)
    hit = np.zeros(span, dtype=bool)
    mx = None if tie is None else np.full(span, -np.inf)
    for d, s in runs:
        i = d - lo
        acc[i] += s
        hit[i] = True
        if mx is not None:
            mx[i] = np.maximum(mx[i], s)
    nz = np.flatnonzero(hit)
    tot = acc[nz]
    if mx is not None:
        m = mx[nz]
        tot = m + tie * (tot - m)
    return nz + lo, tot


def _merged_combine(runs: Sequence[tuple], tie):
    """combine_runs by merge_sorted_runs: bincount sums the concatenated
    scores in run order, maximum.reduceat takes the per-doc max."""
    u, inv, order, starts = merge_sorted_runs([d for d, _s in runs])
    cat = np.concatenate([s for _d, s in runs])
    tot = np.bincount(inv, weights=cat)
    if tie is not None:
        mx = np.maximum.reduceat(cat[order], starts)
        tot = mx + tie * (tot - mx)
    return u, tot


def _globals(pos_by_term: Dict[str, List], terms: Sequence[str]):
    return {t: _concat_global(pos_by_term[t]) for t in dict.fromkeys(terms)}


# Doc ids below this fit the high half of a doc-keyed position
# (doc << 32 | pos) as a non-negative int64.
KEYED_DOCS = 1 << 31


def exact_phrase_freqs(
    pos_by_term: Dict[str, List], terms: Sequence[str], n_docs: int
) -> np.ndarray:
    """freq[i] = exact-phrase occurrences in doc i. pos_by_term[t][i] is the
    sorted positions array of term t in doc i (None = absent)."""
    return exact_phrase_freqs_global(_globals(pos_by_term, terms), terms, n_docs)


def exact_phrase_freqs_global(
    g_by_term: Dict[str, np.ndarray], terms: Sequence[str], n_docs: int
) -> np.ndarray:
    """Same, but the caller already supplies the doc-offset global position
    array per term (candidate index << 32 | pos): exact_phrase_starts
    counted per candidate."""
    starts = exact_phrase_starts(g_by_term, terms)
    return np.bincount(starts >> _DOC_SHIFT, minlength=n_docs)


def exact_phrase_starts(
    g_by_term: Dict[str, np.ndarray], terms: Sequence[str]
) -> np.ndarray:
    """The sorted phrase start keys (doc << 32 | start position) where every
    slot i's term occurs at start + i, over sorted unique doc-keyed position
    arrays (candidate-keyed or the hot cache's doc-keyed layout). Like
    ExactPhraseMatcher's conjunction, it leads with the rarest slot: its
    keys shifted to the phrase start are the candidates, and each other
    slot keeps those whose key + slot one searchsorted finds in its array."""
    n = len(terms)
    lens = [len(g_by_term[t]) for t in terms]
    lead = int(np.argmin(lens))
    if lens[lead] == 0:
        return np.empty(0, dtype=np.int64)
    cand = g_by_term[terms[lead]] - lead
    for i in range(n):
        if i == lead or not len(cand):
            continue
        g = g_by_term[terms[i]]
        want = cand + i
        j = np.minimum(np.searchsorted(g, want), len(g) - 1)
        cand = cand[g[j] == want]
    # drop starts where pos < slot (the subtraction wrapped into the previous
    # doc's high range — never a real position, which are all < 2^31)
    return cand[(cand & _LOW_MASK) < (1 << 31)]


# ---------------------------------------------------------------------------
# Sloppy phrase (SloppyPhraseMatcher parity, with and without repeats)
# ---------------------------------------------------------------------------


def sloppy_phrase_freqs(
    pos_by_term: Dict[str, List], terms: Sequence[str], slop: int, n_docs: int
) -> np.ndarray:
    """SloppyPhraseMatcher freqs over per-doc position lists
    (pos_by_term[t][i], None = absent): one _concat_global per term, then
    sloppy_phrase_freqs_global."""
    return sloppy_phrase_freqs_global(
        _globals(pos_by_term, terms), terms, slop, n_docs
    )


def sloppy_phrase_freqs_rpts(
    pos_by_term: Dict[str, List], terms: Sequence[str], slop: int, n_docs: int
) -> np.ndarray:
    """List-layout entry to sloppy_phrase_freqs_rpts_global."""
    return sloppy_phrase_freqs_rpts_global(
        _globals(pos_by_term, terms), terms, slop, n_docs
    )


def _sloppy_walk(adj_lists: List[np.ndarray], slop: int) -> float:
    """Literal SloppyPhraseMatcher.nextMatch walk (no repeats), one doc.
    Heap keys are (adjusted position, slot) — PhraseQueue's (position,
    offset, ord) order, offsets being distinct here."""
    n = len(adj_lists)
    idx = [0] * n
    heap = [(int(arr[0]), i) for i, arr in enumerate(adj_lists)]
    end = max(h[0] for h in heap)
    heapq.heapify(heap)
    freq = 0.0
    pos, i = heapq.heappop(heap)
    match_length = end - pos
    next_pos = heap[0][0]
    while True:
        idx[i] += 1
        if idx[i] >= len(adj_lists[i]):
            if match_length <= slop:
                freq += 1.0 / (1.0 + match_length)
            return freq
        pos = int(adj_lists[i][idx[i]])
        if pos > end:
            end = pos
        if pos > next_pos:
            heapq.heappush(heap, (pos, i))
            if match_length <= slop:
                freq += 1.0 / (1.0 + match_length)
            pos, i = heapq.heappop(heap)
            next_pos = heap[0][0]
            match_length = end - pos
        else:
            ml2 = end - pos
            if ml2 < match_length:
                match_length = ml2


def _sloppy_candidates(
    g_by_term: Dict[str, np.ndarray], terms: Sequence[str], slop: int, n_docs: int
) -> np.ndarray:
    """Match-window prefilter: a boolean mask of the docs a sloppy phrase
    can match at all (SloppyPhraseMatcher's two-phase approximation, made
    tighter).

    Soundness. The walk emits only from a state whose adjusted positions
    (actual - offset) span at most ``slop``. Offsets are 0..n-1, so the
    PPs' ACTUAL positions then lie in one window [lo, hi] with
    hi - lo <= W = slop + n - 1. PPs sharing a term sit on distinct
    occurrences of it (repeat collisions are resolved before every
    emission), so the window holds at least mult(t) occurrences of each
    distinct term t, mult(t) being t's slot count. Take an anchor term A
    with m = mult(A). If A's PPs occupy occurrences j_1 < ... < j_m, then
    first = g_A[j_1] and last = g_A[j_1 + m - 1] <= g_A[j_m] give
    last - first <= W, and [lo, hi] lies inside [last - W, first + W]. So a
    doc can match only if some occurrence j of A has
    g_A[j + m - 1] - g_A[j] <= W and every other term t has at least
    mult(t) occurrences in [g_A[j + m - 1] - W, g_A[j] + W] (clipped to the
    doc), i.e. its mult(t)-th occurrence from the window's start lies
    inside. A rejected doc's freq is 0, and the batch kernels treat docs
    independently, so every kept doc's freq is unchanged.

    The anchor is the most repeated term, then the rarest: its runs are the
    fewest windows to test."""
    mult = Counter(terms)
    w = min(int(slop) + len(terms) - 1, _LOW_MASK)  # no int64 overflow
    anchor = max(mult, key=lambda t: (mult[t], -len(g_by_term[t])))
    m = mult[anchor]
    ga = np.asarray(g_by_term[anchor], dtype=np.int64)
    k = max(len(ga) - m + 1, 0)
    first, last = ga[:k], ga[m - 1 : m - 1 + k]
    ok = last - first <= w
    first, last = first[ok], last[ok]
    base = (first >> _DOC_SHIFT) << _DOC_SHIFT
    lo = np.maximum(last - w, base)
    hi = np.minimum(first + w, base + _LOW_MASK)
    for t, c in mult.items():
        if t != anchor:
            g = np.append(g_by_term[t], _BIG)
            j = np.minimum(np.searchsorted(g, lo) + (c - 1), len(g) - 1)
            ok = g[j] <= hi
            first, lo, hi = first[ok], lo[ok], hi[ok]
    keep = np.zeros(n_docs, dtype=bool)
    keep[first >> _DOC_SHIFT] = True
    return keep


def sloppy_phrase_freqs_global(
    g_by_term: Dict[str, np.ndarray], terms: Sequence[str], slop: int, n_docs: int
) -> np.ndarray:
    """Sloppy phrase straight from doc-offset GLOBAL position arrays (the hot
    driver cache's native layout). Phrases with repeated terms take
    sloppy_phrase_freqs_rpts_global. The rest run the merged-order batch
    kernel (sloppy_freqs_batch) over the docs _sloppy_candidates keeps: one
    merged sort + n linear passes over the batch, with the
    hand-first tie rotation reproducing the cached-`next` tie behavior
    exactly. For 2-term phrases the walk is equivalent to an alternating
    crossing chain (t_{k+1} = min{opposite side > t_k}, match gap
    t_k - pred_opposite(t_k)) — the form the SQL oracle encodes. Adjusted
    positions are biased by +n so offset subtraction can never wrap a
    position into the previous doc's global range."""
    if len(set(terms)) != len(terms):
        return sloppy_phrase_freqs_rpts_global(g_by_term, terms, slop, n_docs)
    n = len(terms)
    keep = _sloppy_candidates(g_by_term, terms, slop, n_docs)
    g = []
    for off, t in enumerate(terms):
        gt = np.asarray(g_by_term[t], dtype=np.int64)
        g.append(gt[keep[gt >> _DOC_SHIFT]] - off + n)
    return sloppy_freqs_batch(g, slop, n_docs)


# Candidate docs up to which a repeated-term sloppy phrase takes the literal
# per-doc walk: below it the batch walk's per-tick numpy calls (its ticks are
# the batch's longest walk) cost more than the literal walk's per-doc Python.
# Measured over the (a, b, a)~4 pool queries of the 2k-doc perfbench corpus,
# seeds 1, 31 and 34 (89 queries, each on the docs _sloppy_candidates keeps,
# median of 7 timings), literal / batch time was 0.26 at 1-16 docs, 0.41 at
# 17-32, 0.65 at 33-48, 0.75 at 49-64 (0.70-0.84), 0.98-1.06 at 83-94 and
# 2.5-4.3 past 160 (numpy 1.26, Python 3.11, one 4-vCPU VM).
_RPTS_LITERAL_DOCS = 80


def sloppy_phrase_freqs_rpts_global(
    g_by_term: Dict[str, np.ndarray], terms: Sequence[str], slop: int, n_docs: int
) -> np.ndarray:
    """Sloppy phrase with REPEATED terms — SloppyPhraseMatcher's hasRpts
    path (search/SloppyPhraseMatcher.java:286-467) for single-term postings
    (plain PhraseQuery; multi-term repeats, i.e. MultiPhraseQuery with
    shared alternatives, take sloppy_multi_phrase_freqs), straight from
    doc-offset global arrays.

    Repeat groups are query-determined here: PPs sharing a term, sorted by
    query offset (sortRptGroups) — positions-based group discovery in the
    reference reduces to term identity when each PP has one term, which is
    _multi_phrase_shape over singleton slots. Per doc: initComplex places
    every PP at its first position then advances the j-th group member j
    times (advanceRepeatGroups, single-term case); the nextMatch walk
    resolves collisions by advancing the (position, offset)-lesser of the
    colliding pair (advanceRpts/lesser/collide) — collision <=> equal index
    into the shared positions array.

    Runs on the docs _sloppy_candidates keeps: at most _RPTS_LITERAL_DOCS
    of them take the literal per-doc walk (_sloppy_phrase_freqs_rpts_literal),
    more take the doc-lockstep batch walk (_sloppy_phrase_freqs_rpts_batch)."""
    rows = np.flatnonzero(_sloppy_candidates(g_by_term, terms, slop, n_docs))
    if len(rows) > _RPTS_LITERAL_DOCS:
        return _sloppy_phrase_freqs_rpts_batch(g_by_term, terms, slop, rows, n_docs)
    out = np.zeros(n_docs, dtype=np.float64)
    if len(rows):
        lo, hi = rows << _DOC_SHIFT, (rows + 1) << _DOC_SHIFT
        pbt = {}
        for t in dict.fromkeys(terms):
            g = g_by_term[t]
            b, e = np.searchsorted(g, lo), np.searchsorted(g, hi)
            pbt[t] = [g[i:j] - o for i, j, o in zip(b.tolist(), e.tolist(), lo.tolist())]
        out[rows] = _sloppy_phrase_freqs_rpts_literal(pbt, terms, slop, len(rows))
    return out


def _sloppy_phrase_freqs_rpts_batch(
    g_by_term: Dict[str, np.ndarray], terms: Sequence[str], slop: int,
    rows: np.ndarray, n_docs: int,
) -> np.ndarray:
    """sloppy_phrase_freqs_rpts_global's doc-lockstep batch walk
    (_sloppy_rpts_walk_batch) over the candidate docs ``rows``, each holding
    every term: Python cost per tick, not per doc, so it pays once the
    batch is large."""
    n = len(terms)
    _s, _m, _g, group_members, rank = _multi_phrase_shape([(t,) for t in terms])
    if len(rows) == 0:
        return np.zeros(n_docs, dtype=np.float64)
    G = [np.asarray(g_by_term[t], dtype=np.int64) for t in terms]
    B = np.stack([np.searchsorted(g, rows << _DOC_SHIFT) for g in G], axis=1)
    L = np.stack(
        [np.searchsorted(g, (rows + 1) << _DOC_SHIFT) for g in G], axis=1
    ) - B
    flat, B = _pp_flat(G, B)
    idx0 = np.tile(np.asarray(rank, np.int64), (len(rows), 1))
    return _sloppy_rpts_walk_batch(
        flat, B, L, list(range(n)), idx0, group_members, slop, rows, n_docs
    )


def _sloppy_phrase_freqs_rpts_literal(
    pos_by_term: Dict[str, List], terms: Sequence[str], slop: int, n_docs: int
) -> np.ndarray:
    """Per-doc literal driver over _sloppy_walk_rpts — the walk of a small
    candidate batch and the property-test reference for the batch walk
    above: a plain phrase is a multi-phrase of singleton slots."""
    return _sloppy_multi_phrase_freqs_literal(
        pos_by_term, [(t,) for t in terms], slop, n_docs
    )


def sloppy_multi_phrase_freqs(
    pos_by_term: Dict[str, List],
    slots: Sequence[Sequence[str]],
    slop: int,
    n_docs: int,
) -> np.ndarray:
    """Sloppy MultiPhraseQuery — SloppyPhraseMatcher over union postings
    (search/MultiPhraseQuery.java UnionPostingsEnum): PP i's position
    stream is the sorted distinct union of slot i's present alternatives.
    Repeat groups are the connected regions of the PP/term bipartite graph
    over repeating terms (SloppyPhraseMatcher.gatherRptGroups, the
    hasMultiTermRpts branch: ppTermsBitSets + unionTermGroups); collision
    is equal ACTUAL position — tpPos (collide at
    SloppyPhraseMatcher.java:334-344) — which the per-PP arrays here make
    a value comparison. Init: when any repeating PP has >1 alternative,
    the collide-chase of advanceRepeatGroups (multi-term branch,
    SloppyPhraseMatcher.java:435-455); else the j-advances rank init.
    Distinct-position unions assume no index-time same-position duplicates
    inside one slot (a standard-chain index guarantees this).

    Executes on the doc-lockstep batch walk; per-slot unions are built
    vectorized over the whole batch (one np.unique of the doc-offset
    global concatenation per multi-term slot). The literal per-doc
    transcription survives as _sloppy_multi_phrase_freqs_literal."""
    n = len(slots)
    slot_sets, multi, groups, group_members, rank = _multi_phrase_shape(slots)
    g_cache: Dict[str, np.ndarray] = {}

    def term_global(t):
        if t not in g_cache:
            g_cache[t] = _concat_global(pos_by_term[t])
        return g_cache[t]

    G: List[np.ndarray] = []
    bounds = []
    for s in slot_sets:
        arrs = [term_global(t) for t in s]
        g = arrs[0] if len(arrs) == 1 else np.unique(np.concatenate(arrs))
        G.append(g)
        bounds.append(_per_doc_bounds(g, n_docs))
    cand = np.ones(n_docs, dtype=bool)
    for _st, ln in bounds:
        cand &= ln > 0
    rows = np.flatnonzero(cand)
    if len(rows) == 0:
        return np.zeros(n_docs, dtype=np.float64)
    B = np.stack([bounds[i][0][rows] for i in range(n)], axis=1)
    L = np.stack([bounds[i][1][rows] for i in range(n)], axis=1)
    offsets = list(range(n))
    flat, B = _pp_flat(G, B)
    if multi:
        # collide-chase init over the union streams (idx starts at 0)
        idx0 = np.zeros((len(rows), n), np.int64)
        base = rows.astype(np.int64) << _DOC_SHIFT
        V = flat[B] - base[:, None]
        alive = np.ones(len(rows), dtype=bool)
        alive = _advance_rpt_groups_multi_batch(
            flat, B, L, offsets, idx0, V, groups, alive, base
        )
        rows, B, L, idx0 = rows[alive], B[alive], L[alive], idx0[alive]
    else:
        idx0 = np.tile(np.asarray(rank, np.int64), (len(rows), 1))
    return _sloppy_rpts_walk_batch(
        flat, B, L, offsets, idx0, group_members, slop, rows, n_docs
    )


def _multi_phrase_shape(slots: Sequence[Sequence[str]]):
    """Query-level repeat-group discovery shared by the batch and literal
    multi-phrase walks: distinct per-slot term sets, the hasMultiTermRpts
    flag, the connected regions of the PP/term bipartite graph over
    repeating terms (union-find), per-PP group membership and rank."""
    n = len(slots)
    slot_sets = [list(dict.fromkeys(s)) for s in slots]
    tcnt: Dict[str, int] = {}
    for s in slot_sets:
        for t in s:
            tcnt[t] = tcnt.get(t, 0) + 1
    rpt = {t for t, c in tcnt.items() if c >= 2}
    rpt_pps = [i for i in range(n) if any(t in rpt for t in slot_sets[i])]
    multi = any(len(slot_sets[i]) > 1 for i in rpt_pps)
    parent: Dict[str, str] = {t: t for t in rpt}

    def find(t):
        while parent[t] != t:
            parent[t] = parent[parent[t]]
            t = parent[t]
        return t

    for i in rpt_pps:
        ts = [t for t in slot_sets[i] if t in rpt]
        for t in ts[1:]:
            parent[find(t)] = find(ts[0])
    by_root: Dict[str, List[int]] = {}
    for i in rpt_pps:
        r = find(next(t for t in slot_sets[i] if t in rpt))
        by_root.setdefault(r, []).append(i)
    groups = [sorted(g) for g in by_root.values() if len(g) > 1]
    group_members: List = [None] * n
    rank = [0] * n
    for g in groups:
        for j, i in enumerate(g):
            group_members[i] = tuple(g)
            rank[i] = j
    return slot_sets, multi, groups, group_members, rank


def _sloppy_multi_phrase_freqs_literal(
    pos_by_term: Dict[str, List],
    slots: Sequence[Sequence[str]],
    slop: int,
    n_docs: int,
) -> np.ndarray:
    """Per-doc literal driver (UnionPostingsEnum + _sloppy_walk_rpts) —
    the property-test reference for the batch path above."""
    n = len(slots)
    slot_sets, multi, groups, group_members, rank = _multi_phrase_shape(slots)
    group_of = [list(gm) if gm is not None else None for gm in group_members]
    offsets = list(range(n))
    out = np.zeros(n_docs, dtype=np.float64)
    for d in range(n_docs):
        arrs = []
        ok = True
        for s in slot_sets:
            ps = [
                np.asarray(pos_by_term[t][d], dtype=np.int64)
                for t in s
                if pos_by_term[t][d] is not None
            ]
            if not ps:
                ok = False
                break
            arrs.append((ps[0] if len(ps) == 1 else np.unique(np.concatenate(ps))).tolist())
        if not ok:
            continue
        if multi:
            idx = [0] * n
            if not _advance_repeat_groups_multi(arrs, offsets, idx, groups):
                continue
        else:
            idx = list(rank)
        out[d] = _sloppy_walk_rpts(arrs, offsets, idx, group_of, slop)
    return out


def _advance_repeat_groups_multi(
    arrs: List[np.ndarray], offsets: List[int], idx: List[int], groups
) -> bool:
    """advanceRepeatGroups, hasMultiTermRpts branch
    (SloppyPhraseMatcher.java:437-455): per group, chase collisions of
    rg[i] by advancing the (position, offset)-lesser — at equal tpPos
    always the higher-offset member. Returns False when a PP exhausts
    (doc cannot match)."""
    for rg in groups:
        i = 0
        while i < len(rg):
            incr = 1
            pp = rg[i]
            while True:
                tp = int(arrs[pp][idx[pp]])
                k = next(
                    (m for m in rg if m != pp and int(arrs[m][idx[m]]) == tp),
                    None,
                )
                if k is None:
                    break
                # lesser by (position = tpPos - offset, offset): equal
                # tpPos makes the higher-offset member strictly lesser
                pp2 = pp if offsets[pp] > offsets[k] else k
                idx[pp2] += 1
                if idx[pp2] >= len(arrs[pp2]):
                    return False
                if rg.index(pp2) < i:  # reference's "should not happen" guard
                    incr = 0
                    break
            i += incr
    return True


def _sloppy_walk_rpts(
    arrs: List[np.ndarray],
    offsets: List[int],
    idx0: List[int],
    group_of: List,
    slop: int,
) -> float:
    """One-doc literal transcription of SloppyPhraseMatcher.nextMatch with
    repeats. arrs[i] is PP i's sorted actual-position array (shared
    per-term for plain phrases, a per-slot union for MultiPhraseQuery);
    adjusted position = arrs[i][idx[i]] - offsets[i]. idx0 is the
    post-advanceRepeatGroups start state (rank init for single-term
    groups, the collide-chase for multi-term ones). Collision = equal
    ACTUAL position (tpPos, SloppyPhraseMatcher.collide) — on a shared
    array this is index equality, on per-slot unions a value comparison.
    The PQ is treated as a sorted set keyed by (adjusted position,
    offset, ord) — the reference's rptStack re-queue dance only repairs
    heap internals after in-place advances, so set semantics are
    identical; `nxt` stays deliberately stale across collision resolution
    like the reference's cached `next`."""
    n = len(arrs)
    idx = list(idx0)
    for i in range(n):
        if idx[i] >= len(arrs[i]):
            return 0.0  # PPs exhausted at init: doc cannot match

    def adj(i):
        return int(arrs[i][idx[i]]) - offsets[i]

    end = max(adj(i) for i in range(n))
    heap = [(adj(i), offsets[i], i) for i in range(n)]
    heapq.heapify(heap)
    freq = 0.0
    while True:
        pos, _off, i = heapq.heappop(heap)
        ml = end - pos
        nxt = heap[0][0]
        while True:
            # advancePP(hand)
            idx[i] += 1
            if idx[i] >= len(arrs[i]):
                if ml <= slop:
                    freq += 1.0 / (1.0 + ml)
                return freq
            if adj(i) > end:
                end = adj(i)
            # advanceRpts: chase collisions from the just-advanced PP
            if group_of[i] is not None:
                c = i
                touched = False
                while True:
                    g = group_of[c]
                    tp = int(arrs[c][idx[c]])
                    k = next(
                        (
                            j
                            for j in g
                            if j != c and int(arrs[j][idx[j]]) == tp
                        ),
                        None,
                    )
                    if k is None:
                        break
                    lsr = (
                        c
                        if (adj(c), offsets[c]) < (adj(k), offsets[k])
                        else k
                    )
                    idx[lsr] += 1
                    if idx[lsr] >= len(arrs[lsr]):
                        if ml <= slop:
                            freq += 1.0 / (1.0 + ml)
                        return freq
                    if adj(lsr) > end:
                        end = adj(lsr)
                    touched = touched or lsr != i
                    c = lsr
                if touched:  # queue members moved: rebuild keys (re-queue)
                    heap = [
                        (adj(j), offsets[j], j) for j in range(n) if j != i
                    ]
                    heapq.heapify(heap)
            p = adj(i)
            if p > nxt:
                heapq.heappush(heap, (p, offsets[i], i))
                if ml <= slop:
                    freq += 1.0 / (1.0 + ml)
                    break  # return true; next call re-pops
                pos, _off, i = heapq.heappop(heap)
                nxt = heap[0][0]
                ml = end - pos
            else:
                ml2 = end - p
                if ml2 < ml:
                    ml = ml2


# ---------------------------------------------------------------------------
# Doc-lockstep SIMD walks: the repeat-lattice algorithms are inherently
# sequential PER DOC (collision resolution is data-dependent), but the SAME
# step can run for every live doc simultaneously — one vector "tick" executes
# one hand-advance of the literal walk for the whole batch, so Python
# interpreter cost scales with the LONGEST walk in the batch instead of the
# sum over docs. The literal one-doc transcriptions above stay as the
# property-test reference (and walk a small repeated-term batch).
# ---------------------------------------------------------------------------

_BIG = np.int64(1) << np.int64(62)


def _per_doc_bounds(g: np.ndarray, n_docs: int):
    """Per-doc (start, len) slices of a doc-offset global sorted array."""
    edges = np.searchsorted(
        g, np.arange(n_docs + 1, dtype=np.int64) << _DOC_SHIFT
    )
    return edges[:-1].astype(np.int64), np.diff(edges).astype(np.int64)


def _pp_flat(G, B):
    """Concatenate the PPs' doc-offset global arrays into one and shift the
    (R, n) per-row slice bases B to index into it, so a batch of (row, PP)
    lookups is one gather."""
    at = np.cumsum([0] + [len(g) for g in G[:-1]])
    return np.concatenate(G), B + at[None, :]


def _gather_vals(flat, B, idx, rows, pps, base):
    """LOCAL position values at (row, pp) pairs: one gather from the PPs'
    concatenated arrays (_pp_flat). Out-of-range indices are clamped
    (callers only read rows they keep alive)."""
    at = np.minimum(B[rows, pps] + idx[rows, pps], len(flat) - 1)
    return flat[at] - base[rows]


def _sloppy_rpts_walk_batch(
    flat, B, L, offsets, idx0, group_members, slop, doc_ids, n_docs
) -> np.ndarray:
    """Doc-lockstep transcription of _sloppy_walk_rpts
    (SloppyPhraseMatcher.java nextMatch with repeats): per tick, every live
    row advances its hand PP once, chases repeat-group collisions, then
    either keeps minimizing or emits + re-pops — exactly the literal walk's
    step, vectorized across rows. ``flat``/``B`` are the PPs' concatenated
    doc-offset global arrays and (R, n) per-row slice bases into it
    (_pp_flat); ``L``/``idx0`` are (R, n) per-row lengths / post-init
    indices; ``group_members[i]`` is PP i's repeat group (tuple) or None.
    Equivalence vs the literal walk is property-tested."""
    n = B.shape[1]
    R = len(doc_ids)
    out = np.zeros(n_docs, dtype=np.float64)
    if R == 0:
        return out
    offs = np.asarray(offsets, np.int64)
    base = (doc_ids.astype(np.int64) << _DOC_SHIFT)
    idx = idx0.astype(np.int64).copy()
    alive = (idx < L).all(axis=1)
    rr = np.arange(R, dtype=np.int64)
    V = flat[np.minimum(B + idx, len(flat) - 1)] - base[:, None]
    ADJ = V - offs[None, :]
    end = ADJ.max(axis=1)
    keys = ADJ * n + offs[None, :]  # offsets are distinct 0..n-1: no ties
    hand = np.argmin(keys, axis=1).astype(np.int64)
    ml = end - ADJ[rr, hand]
    tmp = ADJ.copy()
    tmp[rr, hand] = _BIG
    nxt = tmp.min(axis=1)
    # partners[i, j]: PP j shares PP i's repeat group
    partners = np.zeros((n, n), dtype=bool)
    for i, gm in enumerate(group_members):
        if gm is not None:
            partners[i, list(gm)] = True
            partners[i, i] = False
    has_group = partners.any(axis=1)

    def emit(rows):
        if len(rows):
            sel = ml[rows] <= slop
            er = rows[sel]
            if len(er):
                np.add.at(out, doc_ids[er], 1.0 / (1.0 + ml[er]))

    a = np.flatnonzero(alive)
    while len(a):
        h = hand[a]
        # advancePP(hand)
        idx[a, h] += 1
        ex = idx[a, h] >= L[a, h]
        if ex.any():
            emit(a[ex])
            alive[a[ex]] = False
            a, h = a[~ex], h[~ex]
        if not len(a):
            break
        v = _gather_vals(flat, B, idx, a, h, base)
        V[a, h] = v
        adj = v - offs[h]
        ADJ[a, h] = adj
        end[a] = np.maximum(end[a], adj)
        # advanceRpts: chase collisions from the just-advanced PP
        chm = has_group[h]
        sub, csub = a[chm], h[chm]
        while len(sub):
            # the first (lowest-PP) group member on the same position
            hit = (V[sub] == V[sub, csub][:, None]) & partners[csub]
            found = hit.any(axis=1)
            sub, csub = sub[found], csub[found]
            if not len(sub):
                break
            partner = hit[found].argmax(axis=1)
            kc = ADJ[sub, csub] * n + offs[csub]
            kk = ADJ[sub, partner] * n + offs[partner]
            lsr = np.where(kc < kk, csub, partner)
            idx[sub, lsr] += 1
            ex2 = idx[sub, lsr] >= L[sub, lsr]
            if ex2.any():
                emit(sub[ex2])
                alive[sub[ex2]] = False
                sub, lsr = sub[~ex2], lsr[~ex2]
            if not len(sub):
                break
            v2 = _gather_vals(flat, B, idx, sub, lsr, base)
            V[sub, lsr] = v2
            adj2 = v2 - offs[lsr]
            ADJ[sub, lsr] = adj2
            end[sub] = np.maximum(end[sub], adj2)
            csub = lsr
        a = a[alive[a]]
        if not len(a):
            break
        h = hand[a]
        p = ADJ[a, h]
        gt = p > nxt[a]
        gtr = a[gt]
        if len(gtr):
            emit(gtr)  # then re-pop (the reference's push-back + pop)
            k2 = ADJ[gtr] * n + offs[None, :]
            hn = np.argmin(k2, axis=1).astype(np.int64)
            hand[gtr] = hn
            rg = np.arange(len(gtr))
            ml[gtr] = end[gtr] - ADJ[gtr, hn]
            t2 = ADJ[gtr].copy()
            t2[rg, hn] = _BIG
            nxt[gtr] = t2.min(axis=1)
        ler = a[~gt]
        if len(ler):
            ml[ler] = np.minimum(ml[ler], end[ler] - p[~gt])
    return out


def _advance_rpt_groups_multi_batch(
    flat, B, L, offsets, idx, V, groups, alive, base
):
    """advanceRepeatGroups, hasMultiTermRpts branch, for every row in
    lockstep (SloppyPhraseMatcher.java:437-455). The literal's ``incr``
    bookkeeping collapses to 'advance the member pointer exactly when no
    collision exists' — a collision advance leaves (group, member)
    unchanged whether or not it breaks with incr=0, so the batch state is
    just (group idx, member idx) per row. Updates idx/V in place; returns
    the surviving alive mask (False = a PP exhausted: doc cannot match)."""
    if not groups:
        return alive
    offs = np.asarray(offsets, np.int64)
    ngr = len(groups)
    glen = np.array([len(g) for g in groups], np.int64)
    table = np.zeros((ngr, int(glen.max())), np.int64)
    for g_idx, g in enumerate(groups):
        for j, pp in enumerate(g):
            table[g_idx, j] = pp
    R = idx.shape[0]
    gi = np.zeros(R, np.int64)
    mi = np.zeros(R, np.int64)
    prog = alive.copy()
    act = np.flatnonzero(prog)
    while len(act):
        pp = table[gi[act], mi[act]]
        vc = V[act, pp]
        partner = np.full(len(act), -1, np.int64)
        for g_idx, g in enumerate(groups):
            mrows = (gi[act] == g_idx) & (partner < 0)
            if not mrows.any():
                continue
            for m in g:
                hit = mrows & (partner < 0) & (m != pp) & (V[act, m] == vc)
                partner[hit] = m
        none = partner < 0
        nr = act[none]
        if len(nr):
            mi[nr] += 1
            ro = mi[nr] >= glen[gi[nr]]
            gi[nr[ro]] += 1
            mi[nr[ro]] = 0
            prog[nr[gi[nr] >= ngr]] = False
        fr = act[~none]
        if len(fr):
            ppf, kf = pp[~none], partner[~none]
            # at equal tpPos the higher-offset member is strictly lesser
            pp2 = np.where(offs[ppf] > offs[kf], ppf, kf)
            idx[fr, pp2] += 1
            ex = idx[fr, pp2] >= L[fr, pp2]
            if ex.any():
                alive[fr[ex]] = False
                prog[fr[ex]] = False
                fr, pp2 = fr[~ex], pp2[~ex]
            if len(fr):
                V[fr, pp2] = _gather_vals(flat, B, idx, fr, pp2, base)
        act = np.flatnonzero(prog)
    return alive


# ---------------------------------------------------------------------------
# Merged-order batch kernels: the PQ walks' advance order IS the k-way-merge
# order of the per-clause position arrays, so both walks vectorize:
#   - each clause's CURRENT element at time t (t retirements done) is its
#     first element with merged index >= t — one searchsorted per clause;
#   - the unordered-span walk checks one state per retirement;
#   - the sloppy walk's match emissions are one per maximal same-slot RUN
#     in merged (pos, offset) order (tie-free docs; ties fall back to the
#     literal walk), with matchLength = (max current at run start) - (last
#     run element) — the run never raises `end` because every consumed
#     position is <= the cached `next` <= end;
#   - both stop at the first retirement of a clause's doc-last element.
# ---------------------------------------------------------------------------


def _merged_arrays(g_by_clause: List[np.ndarray], hand_first_ties: bool = False):
    """Merge global per-clause sorted arrays by (value, clause). Returns
    (P, C, doc, mx, ok, lastflag): per merged index t — the value, clause,
    doc, max over clauses of their current value at time t (meaningful
    where ok), whether every clause's current stays in t's doc, and whether
    P[t] is its clause's doc-last element.

    The concatenation is in clause order, so a stable argsort (a timsort
    over n presorted runs) yields the (value, clause) order. A clause's
    current at time t is its first element at merged index >= t: each of
    its elements repeated over the gap since the clause's previous one.

    ``hand_first_ties`` applies _rotate_hand_first (SloppyPhraseMatcher's
    tie behavior)."""
    n = len(g_by_clause)
    lens = [len(g) for g in g_by_clause]
    vals = np.concatenate(g_by_clause)
    cls = np.repeat(np.arange(n, dtype=np.int64), lens)
    order = np.argsort(vals, kind="stable")
    P, C = vals[order], cls[order]
    L = len(P)
    if hand_first_ties and L > 1:
        _rotate_hand_first(P, C)
    doc = P >> _DOC_SHIFT
    doc_end = (doc + 1) << _DOC_SHIFT
    mx = np.full(L, -_BIG, dtype=np.int64)
    ok = np.ones(L, dtype=bool)
    lastflag = np.zeros(L, dtype=bool)
    for c in range(n):
        mi = np.flatnonzero(C == c)
        if len(mi) == 0:
            ok[:] = False
            continue
        gv = P[mi]
        nxv = np.full(L, _BIG, dtype=np.int64)  # no current: past every doc
        nxv[: mi[-1] + 1] = np.repeat(gv, np.diff(mi, prepend=-1))
        ok &= nxv < doc_end  # nxv >= P[t]: below t's doc end = same doc
        mx = np.maximum(mx, nxv)
        lf = np.ones(len(mi), dtype=bool)
        lf[:-1] = (gv[1:] >> _DOC_SHIFT) != (gv[:-1] >> _DOC_SHIFT)
        lastflag[mi[lf]] = True
    return P, C, doc, mx, ok, lastflag


def _rotate_hand_first(P: np.ndarray, C: np.ndarray) -> None:
    """SloppyPhraseMatcher's tie behavior, in place on the merged clause
    order C. The minimization loop compares only POSITIONS against the
    cached `next`, so when the hand's next element ties the queue top, the
    hand retires it first regardless of offset order. Within each group of
    equal values the member whose clause retired the immediately preceding
    element (same doc) is rotated to the front (runs that reach a tie always
    continue through it — if another slot still held an earlier element,
    the run would have ended before the tie). Each clause holds a value at
    most once, so the hand occurs at most once per group.

    A group abutting the previous group reads that group's rotated last
    element, so groups run in waves by chain depth: wave d rotates every
    group whose chain of abutting predecessors is d long, all at once."""
    tie = P[1:] == P[:-1]
    if not tie.any():
        return
    gs = np.flatnonzero(tie & np.concatenate(([True], ~tie[:-1])))
    ge = np.flatnonzero(tie & np.concatenate((~tie[1:], [True]))) + 1
    # a predecessor in another doc (or none) => fresh doc, no incoming hand
    okp = gs > 0
    gs, ge = gs[okp], ge[okp]
    okp = (P[gs - 1] >> _DOC_SHIFT) == (P[gs] >> _DOC_SHIFT)
    gs, ge = gs[okp], ge[okp]
    if len(gs) == 0:
        return
    ar = np.arange(len(gs))
    chain_start = np.ones(len(gs), dtype=bool)
    chain_start[1:] = ge[:-1] + 1 != gs[1:]
    depth = ar - np.maximum.accumulate(np.where(chain_start, ar, 0))
    for d in range(int(depth.max()) + 1):
        s, e = gs[depth == d], ge[depth == d]
        hand = C[s - 1]
        size = e - s + 1
        grp = np.repeat(np.arange(len(s)), size)
        pos = np.arange(len(grp)) - np.repeat(np.cumsum(size) - size, size)
        t = s[grp] + pos
        hit = C[t] == hand[grp]
        jj = np.zeros(len(s), dtype=np.int64)
        jj[grp[hit]] = pos[hit]
        jj = jj[grp]
        shift = (pos >= 1) & (pos <= jj)
        front = (pos == 0) & (jj > 0)
        C[t[shift]] = C[t[shift] - 1]
        C[t[front]] = hand[grp[front]]


def _doc_T_and_segments(P: np.ndarray, doc: np.ndarray, lastflag: np.ndarray):
    """Per merged index: the doc-segment id and that doc's stop index T
    (first retirement of a clause-doc-last element)."""
    L = len(P)
    ts = np.arange(L, dtype=np.int64)
    starts = np.concatenate(([0], np.flatnonzero(np.diff(doc)) + 1))
    fidx = np.where(lastflag, ts, L)
    Tmin = np.minimum.reduceat(fidx, starts)
    seg_len = np.diff(np.concatenate((starts, [L])))
    doc_seg = np.repeat(np.arange(len(starts)), seg_len)
    return doc_seg, Tmin


def span_unordered_freqs_batch(
    g_by_clause: List[np.ndarray], slop: int, n_docs: int
) -> np.ndarray:
    """Batch NearSpansUnordered over global doc-offset arrays: one state
    check per retirement t with matchLength = max current end - min current
    start = (mx[t] + 1) - P[t], stopping per doc at the first exhausting
    retirement. Duplicate clauses are fine: the merge's (value, clause) tie
    order equals the walk's interchangeable-iterator tie order."""
    n = len(g_by_clause)
    out = np.zeros(n_docs, dtype=np.float64)
    if any(len(g) == 0 for g in g_by_clause):
        return out
    P, _C, doc, mx, ok, lastflag = _merged_arrays(g_by_clause)
    doc_seg, Tmin = _doc_T_and_segments(P, doc, lastflag)
    ts = np.arange(len(P), dtype=np.int64)
    ml = mx + 1 - P
    sel = ok & (ts <= Tmin[doc_seg]) & (ml - n <= slop)
    if sel.any():
        np.add.at(
            out,
            (P[sel] >> _DOC_SHIFT).astype(np.int64),
            1.0 / (1.0 + ml[sel].astype(np.float64)),
        )
    return out


def sloppy_freqs_batch(
    g_by_slot: List[np.ndarray], slop: int, n_docs: int
) -> np.ndarray:
    """Batch SloppyPhraseMatcher (no repeats) over global ADJUSTED per-slot
    arrays. Emissions are one per maximal same-slot run in the hand-first
    tie-adjusted merged order (see _merged_arrays): matchLength =
    end_at_run_start - last run element; runs past the doc's stop index
    never happen."""
    out = np.zeros(n_docs, dtype=np.float64)
    if any(len(g) == 0 for g in g_by_slot):
        return out
    P, C, doc, mx, ok, lastflag = _merged_arrays(g_by_slot, hand_first_ties=True)
    doc_seg, Tmin = _doc_T_and_segments(P, doc, lastflag)
    L = len(P)
    # run segmentation: slot change or doc change starts a new run
    bnd = np.ones(L, dtype=bool)
    bnd[1:] = (C[1:] != C[:-1]) | (doc[1:] != doc[:-1])
    rs = np.flatnonzero(bnd)
    re = np.concatenate((rs[1:] - 1, [L - 1]))
    end_r = mx[rs]
    ml = end_r - P[re]
    sel = ok[rs] & (re <= Tmin[doc_seg[rs]]) & (ml <= slop)
    if sel.any():
        np.add.at(
            out,
            (P[rs[sel]] >> _DOC_SHIFT).astype(np.int64),
            1.0 / (1.0 + ml[sel].astype(np.float64)),
        )
    return out


# ---------------------------------------------------------------------------
# Span near (NearSpansOrdered / NearSpansUnordered parity)
# ---------------------------------------------------------------------------


def span_ordered_freqs(
    pos_by_clause: List[List], slop: int, n_docs: int
) -> np.ndarray:
    """pos_by_clause[c][i] = sorted positions of clause c's term in doc i."""
    g0 = _concat_global(pos_by_clause[0])
    if len(g0) == 0:
        return np.zeros(n_docs, dtype=np.float64)
    cur = g0
    alive = np.ones(len(g0), dtype=bool)
    for lists in pos_by_clause[1:]:
        arr = _concat_global(lists)
        if len(arr) == 0:
            return np.zeros(n_docs, dtype=np.float64)
        j = np.searchsorted(arr, cur, side="right")
        ok = j < len(arr)
        alive &= ok
        cur = np.where(ok, arr[np.minimum(j, len(arr) - 1)], cur)
    n = len(pos_by_clause)
    width = cur - g0 - (n - 1)
    sel = alive & ((cur >> _DOC_SHIFT) == (g0 >> _DOC_SHIFT)) & (width <= slop)
    out = np.zeros(n_docs, dtype=np.float64)
    np.add.at(
        out,
        (g0[sel] >> _DOC_SHIFT).astype(np.int64),
        1.0 / (1.0 + (cur[sel] - g0[sel] + 1).astype(np.float64)),
    )
    return out


def span_unordered_freqs(
    pos_by_clause: List[List], slop: int, n_docs: int, distinct: bool = True
) -> np.ndarray:
    """``distinct=False`` flags duplicate-term clauses: the closed form
    assumes distinct-term positions never tie, so duplicates take the
    per-doc walk. Duplicate clauses need no special machinery — two
    iterators over the same positions list that sit on the same position
    are in identical states, so the reference heap's arbitrary tie order
    cannot change the visited-state multiset (NearSpansUnordered has no
    repeat handling; a doc with a single 'x' matches "x x"~0 because both
    clauses sit on the same token — the classic overlap quirk)."""
    if len(pos_by_clause) == 2 and distinct:
        return _span_unordered2_freqs(
            pos_by_clause[0], pos_by_clause[1], slop, n_docs
        )
    g = [_concat_global(lists) for lists in pos_by_clause]
    return span_unordered_freqs_batch(g, slop, n_docs)


def _span_unordered2_freqs(pos_a, pos_b, slop: int, n_docs: int) -> np.ndarray:
    """Closed form of the 2-clause advance-min walk: the visited states are
    exactly {(x, min{other list > x})} for x over both lists (positions of
    distinct terms never tie)."""
    ga = _concat_global(pos_a)
    gb = _concat_global(pos_b)
    out = np.zeros(n_docs, dtype=np.float64)
    for x, other in ((ga, gb), (gb, ga)):
        if len(x) == 0 or len(other) == 0:
            continue
        j = np.searchsorted(other, x, side="right")
        ok = j < len(other)
        m = other[np.minimum(j, len(other) - 1)]
        ml = m + 1 - x  # maxEnd - minStart
        sel = ok & ((m >> _DOC_SHIFT) == (x >> _DOC_SHIFT)) & (ml - 2 <= slop)
        np.add.at(
            out,
            (x[sel] >> _DOC_SHIFT).astype(np.int64),
            1.0 / (1.0 + ml[sel].astype(np.float64)),
        )
    return out


# ---------------------------------------------------------------------------
# Minimal intervals (queries/intervals parity)
# ---------------------------------------------------------------------------


def ordered_minimal_intervals(g_by_clause: List[np.ndarray]):
    """Minimal ordered intervals over point-term clauses
    (OrderedIntervalsSource.java nextInterval + its minimizing loop): for
    each end e (occurrence of the last clause), the backward greedy chain
    q_{i-1} = max{pos(t_{i-1}) < q_i} yields the latest valid start; the
    emitted set keeps only the SMALLEST end per start (no interval contains
    another). Inputs/outputs use doc-offset global coordinates."""
    g_last = g_by_clause[-1]
    if any(len(a) == 0 for a in g_by_clause):
        return np.empty(0, np.int64), np.empty(0, np.int64)
    cur = g_last
    valid = np.ones(len(g_last), dtype=bool)
    for arr in reversed(g_by_clause[:-1]):
        j = np.searchsorted(arr, cur, side="left") - 1
        ok = j >= 0
        cur = np.where(ok, arr[np.maximum(j, 0)], cur)
        valid &= ok
    valid &= (cur >> _DOC_SHIFT) == (g_last >> _DOC_SHIFT)
    s, e = cur[valid], g_last[valid]
    if len(s) == 0:
        return s, e
    keep = np.ones(len(s), dtype=bool)
    keep[1:] = s[1:] != s[:-1]  # e ascending => first e per start is minimal
    return s[keep], e[keep]


def unordered_minimal_intervals(g_by_clause: List[np.ndarray]):
    """Minimal unordered intervals (UnorderedIntervalsSource.java): for each
    candidate end e in the union of positions, the window start is
    min over clauses of (latest occurrence <= e); keep the smallest end per
    start — the classic minimal-window staircase."""
    if any(len(a) == 0 for a in g_by_clause):
        return np.empty(0, np.int64), np.empty(0, np.int64)
    union = np.sort(np.concatenate(g_by_clause))
    L = None
    valid = np.ones(len(union), dtype=bool)
    for arr in g_by_clause:
        j = np.searchsorted(arr, union, side="right") - 1
        ok = j >= 0
        m = arr[np.maximum(j, 0)]
        ok &= (m >> _DOC_SHIFT) == (union >> _DOC_SHIFT)
        L = m if L is None else np.minimum(L, m)
        valid &= ok
    s, e = L[valid], union[valid]
    if len(s) == 0:
        return s, e
    keep = np.ones(len(s), dtype=bool)
    keep[1:] = s[1:] != s[:-1]
    return s[keep], e[keep]


def interval_freqs(
    pos_by_clause: List[List],
    ordered: bool,
    max_gaps: int,
    n_docs: int,
    min_extent: int | None = None,
    max_width: int = -1,
) -> np.ndarray:
    """Per-doc interval sloppy freq (IntervalScorer.java:69-74):
    Σ 1 / max(length - minExtent + 1, 1) over the minimal intervals, after
    the optional maxgaps filter (FilteredIntervalsSource.maxGaps); minExtent
    = clause count for distinct point terms. With duplicate terms the
    caller passes the reference's deduplicated minExtent: adjacent equal
    sources collapse into a RepeatingIntervalsSource whose minExtent is its
    CHILD's (RepeatingIntervalsSource.java minExtent), so each run of equal
    adjacent terms contributes 1 — while the maxgaps filter keeps counting
    every position (gaps = width - Σ sub widths, sub width = run length).
    The ordered chain itself needs no repeat handling: a repeat-run window
    (p_i .. p_{i+c-1}) of consecutive occurrences produces exactly the same
    backward-greedy (start, end) chains as c strict point steps."""
    n = len(pos_by_clause)
    if min_extent is None:
        min_extent = n
    g = [_concat_global(lists) for lists in pos_by_clause]
    s, e = (
        ordered_minimal_intervals(g) if ordered else unordered_minimal_intervals(g)
    )
    out = np.zeros(n_docs, dtype=np.float64)
    if len(s) == 0:
        return out
    length = e - s + 1
    if max_gaps >= 0:
        sel = (length - n) <= max_gaps
        s, e, length = s[sel], e[sel], length[sel]
    if max_width >= 0 and len(s):
        # Intervals.maxwidth (FilteredIntervalsSource.MaxWidth accept():
        # (end - start) + 1 <= maxWidth), applied on the minimal stream
        sel = length <= max_width
        s, e, length = s[sel], e[sel], length[sel]
    if len(s) == 0:
        return out
    w = 1.0 / np.maximum(length - min_extent + 1, 1).astype(np.float64)
    np.add.at(out, (e >> _DOC_SHIFT).astype(np.int64), w)
    return out


def _minimal_intervals_global(
    pos_by_clause: List[List], ordered: bool, max_gaps: int,
    max_width: int = -1,
):
    g = [_concat_global(lists) for lists in pos_by_clause]
    s, e = (
        ordered_minimal_intervals(g) if ordered else unordered_minimal_intervals(g)
    )
    if max_gaps >= 0 and len(s):
        sel = ((e - s + 1) - len(pos_by_clause)) <= max_gaps
        s, e = s[sel], e[sel]
    if max_width >= 0 and len(s):
        sel = (e - s + 1) <= max_width
        s, e = s[sel], e[sel]
    return s, e


#: filter kinds whose doc approximation is a CONJUNCTION (reference absent
#: in a doc => no match there); the difference kinds emit every source
#: interval when the reference stream is exhausted/absent
#: (ConjunctionIntervalsSource vs DifferenceIntervalsSource/RelativeIterator)
_CONJ_FILTER_KINDS = frozenset(
    ("containing", "contained_by", "overlapping", "before", "after", "within")
)


def interval_filter_freqs(
    kind: str,
    a_clauses: List[List],
    a_ordered: bool,
    a_max_gaps: int,
    b_clauses: List[List],
    b_ordered: bool,
    b_max_gaps: int,
    n_docs: int,
    b_ext: int = 0,
    a_max_width: int = -1,
    b_max_width: int = -1,
) -> np.ndarray:
    """Interval filter algebra over two minimal-interval streams — the
    reference's Containing/ContainedBy/NotContaining/NotContainedBy/
    Overlapping/NonOverlapping IntervalsSources plus Intervals.before/after
    (containedBy against an extended offset stream). Emitted intervals are
    always the SOURCE side's (FilteringIntervalIterator start()/end()
    delegate to `a`); minExtent is the source's (each filter source's
    minExtent() returns its a-side's), so freq =
    Σ 1/max(length_a - minExtent_a + 1, 1) over survivors.

    Each streaming loop reduces to a per-interval predicate because minimal
    streams have strictly increasing starts AND ends: the loop's resting
    position is the first b with a monotone property, i.e. one searchsorted.
    notContaining keeps the reference's quirk verbatim: the resting b is
    the first with (b.start >= a.start OR b.end >= a.end), and a is emitted
    iff that b is past a.end or absent — so an overlapping-but-not-contained
    b still suppresses a (NotContainingIntervalsSource.java nextInterval).

    ``b_ext`` stretches every reference interval by that many positions on
    both sides (Intervals.extend, start clipped at the doc's position 0):
    within(s, p, r) = containedBy(s, extend(r, p, p)) and notWithin(m, p, s)
    = nonOverlapping(m, extend(s, p, p)) — the reference's own compositions
    (Intervals.java within()/notWithin()). The extended stream keeps
    non-decreasing starts and strictly increasing ends, which is all the
    searchsorted predicates need (the resting b has the minimal start among
    candidates)."""
    kind = {"within": "contained_by", "not_within": "non_overlapping"}.get(
        kind, kind
    )
    sa, ea = _minimal_intervals_global(
        a_clauses, a_ordered, a_max_gaps, a_max_width
    )
    sb, eb = _minimal_intervals_global(
        b_clauses, b_ordered, b_max_gaps, b_max_width
    )
    if b_ext > 0 and len(sb):
        base = (sb >> _DOC_SHIFT) << _DOC_SHIFT
        sb = np.maximum(sb - b_ext, base)
        eb = eb + b_ext
    min_extent = len(a_clauses)
    out = np.zeros(n_docs, dtype=np.float64)
    if len(sa) == 0:
        return out
    da = (sa >> _DOC_SHIFT).astype(np.int64)
    if len(sb) == 0:
        emit = (
            np.zeros(len(sa), dtype=bool)
            if kind in _CONJ_FILTER_KINDS
            else np.ones(len(sa), dtype=bool)
        )
    else:
        db = sb >> _DOC_SHIFT

        def at(j):
            ok = (j >= 0) & (j < len(sb))
            jj = np.clip(j, 0, len(sb) - 1)
            return ok, jj

        if kind == "containing":
            ok, jj = at(np.searchsorted(sb, sa, side="left"))
            emit = ok & (db[jj] == da) & (eb[jj] <= ea)
        elif kind == "contained_by":
            ok, jj = at(np.searchsorted(eb, ea, side="left"))
            emit = ok & (db[jj] == da) & (sb[jj] <= sa)
        elif kind == "overlapping":
            ok, jj = at(np.searchsorted(eb, sa, side="left"))
            emit = ok & (db[jj] == da) & (sb[jj] <= ea)
        elif kind == "not_containing":
            j = np.minimum(
                np.searchsorted(sb, sa, side="left"),
                np.searchsorted(eb, ea, side="left"),
            )
            ok, jj = at(j)
            emit = ~(ok & (db[jj] == da) & (sb[jj] <= ea))
        elif kind == "not_contained_by":
            ok, jj = at(np.searchsorted(eb, ea, side="left"))
            emit = ~(ok & (db[jj] == da) & (sb[jj] <= sa))
        elif kind == "non_overlapping":
            ok, jj = at(np.searchsorted(eb, sa, side="left"))
            emit = ~(ok & (db[jj] == da) & (sb[jj] <= ea))
        elif kind == "before":
            ok, jj = at(np.searchsorted(sb, ea, side="right"))
            emit = ok & (db[jj] == da)
        elif kind == "after":
            ok, jj = at(np.searchsorted(eb, sa, side="left") - 1)
            emit = ok & ((eb[jj] >> _DOC_SHIFT) == da)
        else:
            raise ValueError(f"unknown interval filter kind {kind!r}")
    if not emit.any():
        return out
    length = (ea - sa + 1)[emit]
    w = 1.0 / np.maximum(length - min_extent + 1, 1).astype(np.float64)
    np.add.at(out, da[emit], w)
    return out


def minimal_union(streams) -> tuple:
    """Minimalized union of minimal-interval streams — what the
    reference's DisjunctionIntervalIterator emits
    (DisjunctionIntervalsSource.java nextInterval: queue by (end asc,
    start desc), pops any interval containing the one just emitted):
    the union minus every interval that strictly contains another, with
    exact duplicates collapsed. Global doc-offset coordinates keep the
    per-doc minimality independent (an interval can never contain one
    from another doc)."""
    s = np.concatenate([x[0] for x in streams])
    e = np.concatenate([x[1] for x in streams])
    if len(s) == 0:
        return s, e
    order = np.lexsort((e, s))
    s, e = s[order], e[order]
    keep = np.ones(len(s), dtype=bool)
    keep[1:] = s[1:] != s[:-1]  # equal starts: smallest end only
    s, e = s[keep], e[keep]
    # starts strictly increase; survive iff no LATER interval has e' <= e
    suf = np.minimum.accumulate(e[::-1])[::-1]
    keep = np.ones(len(s), dtype=bool)
    keep[:-1] = e[:-1] < suf[1:]
    return s[keep], e[keep]


def no_overlaps_interval_freqs(
    a_lists: List, b_lists: List, n_docs: int
) -> np.ndarray:
    """Intervals.unorderedNoOverlaps(a, b) over point sources — the
    reference's own composition or(ordered(a, b), ordered(b, a))
    (Intervals.java:285-287): both ordered staircases, minimal-union'd;
    freq weighs each survivor by 1/max(length - 2 + 1, 1) (disjunction
    minExtent = min over subs = 2 for point operands)."""
    ga, gb = _concat_global(a_lists), _concat_global(b_lists)
    s, e = minimal_union(
        [ordered_minimal_intervals([ga, gb]), ordered_minimal_intervals([gb, ga])]
    )
    out = np.zeros(n_docs, dtype=np.float64)
    if len(s) == 0:
        return out
    w = 1.0 / np.maximum((e - s + 1) - 2 + 1, 1).astype(np.float64)
    np.add.at(out, (e >> _DOC_SHIFT).astype(np.int64), w)
    return out


def unordered_intervals_dups_freqs(
    pos_by_term: Dict[str, List],
    counts: Dict[str, int],
    max_gaps: int,
    n_docs: int,
    max_width: int = -1,
) -> np.ndarray:
    """Unordered intervals with DUPLICATE terms. The reference deduplicates
    repeated sub-sources into RepeatingIntervalsSource sliding windows of
    `count` consecutive occurrences (UnorderedIntervalsSource.deduplicate,
    RepeatingIntervalsSource.java), then runs the advance-min-start queue
    walk over the sub streams; a single deduplicated sub IS the source
    (build() unwraps it), emitting raw windows. minExtent = number of subs
    (each Repeating contributes its child's 1); gaps keep counting every
    position (sub width = count).

    Executes on the doc-lockstep batch walk (_unordered_dups_walk_batch);
    the literal per-doc driver survives as
    _unordered_intervals_dups_freqs_literal for the property suite."""
    terms = list(counts)
    n = len(terms)
    min_extent = n
    total_width = sum(counts.values())
    out = np.zeros(n_docs, dtype=np.float64)
    c = np.array([counts[t] for t in terms], np.int64)
    G = [_concat_global(pos_by_term[t]) for t in terms]
    bounds = [_per_doc_bounds(g, n_docs) for g in G]
    cand = np.ones(n_docs, dtype=bool)
    for i in range(n):
        cand &= bounds[i][1] >= c[i]
    rows = np.flatnonzero(cand)
    if len(rows) == 0:
        return out

    def weigh(doc_idx, s, e):
        length = e - s + 1
        ok = np.ones(len(s), dtype=bool)
        if max_gaps >= 0:
            ok &= (length - total_width) <= max_gaps
        if max_width >= 0:
            ok &= length <= max_width
        if ok.any():
            w = 1.0 / np.maximum(length[ok] - min_extent + 1, 1).astype(
                np.float64
            )
            np.add.at(out, doc_idx[ok], w)

    B = np.stack([bounds[i][0][rows] for i in range(n)], axis=1)
    Lsub = np.stack(
        [bounds[i][1][rows] - (c[i] - 1) for i in range(n)], axis=1
    )
    base = rows.astype(np.int64) << _DOC_SHIFT
    if n == 1:
        # a single deduplicated sub IS the source: emit every window
        ls = Lsub[:, 0]
        s = gather_slices(G[0], B[:, 0], ls) - np.repeat(base, ls)
        e = gather_slices(G[0], B[:, 0] + (c[0] - 1), ls) - np.repeat(base, ls)
        weigh(np.repeat(rows, ls), s, e)
        return out
    _unordered_dups_walk_batch(G, B, Lsub, c, rows, base, weigh)
    return out


def _unordered_dups_walk_batch(G, B, Lsub, c, doc_ids, base, weigh):
    """Doc-lockstep transcription of _unordered_intervals_walk
    (UnorderedIntervalsSource.java nextInterval): per tick every live row
    either skips past its previous start or runs one minimize step —
    identical state updates to the literal queue walk, vectorized across
    rows. Sub i's window stream is (G[i][B+j], G[i][B+j+c[i]-1]) for
    j < Lsub[:, i]; emissions call ``weigh(rows, starts, ends)``."""
    n = len(G)
    R = len(doc_ids)
    idx = np.zeros((R, n), np.int64)
    SM = np.empty((R, n), np.int64)
    EM = np.empty((R, n), np.int64)
    for i in range(n):
        SM[:, i] = G[i][B[:, i]]
        EM[:, i] = G[i][np.minimum(B[:, i] + (c[i] - 1), len(G[i]) - 1)]
    SM -= base[:, None]
    EM -= base[:, None]
    queue_end = EM.max(axis=1)
    prev = np.full(R, -1, np.int64)
    phase = np.zeros(R, np.uint8)  # 0 = skip-prev-start, 1 = minimize
    alive = np.ones(R, dtype=bool)
    K1, K2 = np.int64(1) << 32, np.int64(1) << 31
    while True:
        a = np.flatnonzero(alive)
        if not len(a):
            break
        # queue top by (start asc, end desc, sub asc) — argmin's
        # first-index tie rule IS the heap tuple's sub-ordinal tiebreak
        key = SM[a] * K1 + (K2 - EM[a])
        top = np.argmin(key, axis=1).astype(np.int64)
        ra = np.arange(len(a))
        ts, te = SM[a, top], EM[a, top]
        adv_skip = (phase[a] == 0) & (ts == prev[a])
        minm = ~adv_skip
        phase[a[minm]] = 1  # SKIP rows past prev enter the minimize loop
        e_cur = queue_end[a]
        emit_now = minm & (te == e_cur)
        if emit_now.any():
            weigh(doc_ids[a[emit_now]], ts[emit_now], e_cur[emit_now])
            prev[a[emit_now]] = ts[emit_now]
            phase[a[emit_now]] = 0
        advm = np.flatnonzero(adv_skip | (minm & ~emit_now))
        if not len(advm):
            continue
        rows_adv = a[advm]
        subs_adv = top[advm]
        is_min = minm[advm]
        s_cap, e_cap = ts[advm], e_cur[advm]
        idx[rows_adv, subs_adv] += 1
        dead = idx[rows_adv, subs_adv] >= Lsub[rows_adv, subs_adv]
        if dead.any():
            dm = dead & is_min  # a sub exhausted mid-minimize still emits
            if dm.any():
                weigh(doc_ids[rows_adv[dm]], s_cap[dm], e_cap[dm])
            alive[rows_adv[dead]] = False
        live = ~dead
        rl, sl = rows_adv[live], subs_adv[live]
        if not len(rl):
            continue
        newS = np.empty(len(rl), np.int64)
        newE = np.empty(len(rl), np.int64)
        for i in range(n):
            m = sl == i
            if m.any():
                at = B[rl[m], i] + idx[rl[m], i]
                newS[m] = G[i][at]
                newE[m] = G[i][at + (c[i] - 1)]
        newS -= base[rl]
        newE -= base[rl]
        SM[rl, sl] = newS
        EM[rl, sl] = newE
        grew = newE > queue_end[rl]
        queue_end[rl] = np.maximum(queue_end[rl], newE)
        gm = grew & is_min[live]  # queueEnd grew: emit and restart the scan
        if gm.any():
            s_l, e_l = s_cap[live], e_cap[live]
            weigh(doc_ids[rl[gm]], s_l[gm], e_l[gm])
            prev[rl[gm]] = s_l[gm]
            phase[rl[gm]] = 0


def _unordered_intervals_dups_freqs_literal(
    pos_by_term: Dict[str, List],
    counts: Dict[str, int],
    max_gaps: int,
    n_docs: int,
    max_width: int = -1,
) -> np.ndarray:
    """Per-doc literal driver over _unordered_intervals_walk — the
    property-test reference for the batch walk above."""
    terms = list(counts)
    min_extent = len(terms)
    total_width = sum(counts.values())
    out = np.zeros(n_docs, dtype=np.float64)
    for d in range(n_docs):
        subs = []
        dead = False
        for t in terms:
            p = pos_by_term[t][d]
            c = counts[t]
            if p is None or len(p) < c:
                dead = True
                break
            p = np.asarray(p, dtype=np.int64)
            if c == 1:
                subs.append((p, p, 1))
            else:
                subs.append((p[: len(p) - c + 1], p[c - 1 :], c))
        if dead:
            continue
        if len(subs) == 1:
            s, e = subs[0][0], subs[0][1]
            gaps = (e - s + 1) - total_width
        else:
            s, e, gaps = _unordered_intervals_walk(subs, total_width)
        if len(s) == 0:
            continue
        s, e, gaps = (np.asarray(s), np.asarray(e), np.asarray(gaps))
        if max_gaps >= 0:
            sel = gaps <= max_gaps
            s, e = s[sel], e[sel]
        length = e - s + 1
        if max_width >= 0:
            length = length[length <= max_width]
        out[d] = np.sum(1.0 / np.maximum(length - min_extent + 1, 1))
    return out


def _unordered_intervals_walk(subs, total_width: int):
    """One-doc literal transcription of UnorderedIntervalIterator
    (UnorderedIntervalsSource.java nextInterval): queue ordered by (start
    asc, end desc), running queueEnd right extreme; per emission, skip past
    the previous start, then minimize until the top interval's end reaches
    queueEnd or queueEnd grows / a sub exhausts. subs = [(starts, ends,
    width)]; emitted gaps = (end - start + 1) - Σ sub widths."""
    n = len(subs)
    idx = [0] * n
    heap = [(int(subs[j][0][0]), -int(subs[j][1][0]), j) for j in range(n)]
    heapq.heapify(heap)
    queue_end = max(int(subs[j][1][0]) for j in range(n))
    alive = True
    out_s: List[int] = []
    out_e: List[int] = []
    out_g: List[int] = []
    prev_start = -1

    def advance_top():
        nonlocal queue_end, alive
        _s, _ne, j = heapq.heappop(heap)
        idx[j] += 1
        if idx[j] >= len(subs[j][0]):
            alive = False
            return
        ns, ne = int(subs[j][0][idx[j]]), int(subs[j][1][idx[j]])
        heapq.heappush(heap, (ns, -ne, j))
        if ne > queue_end:
            queue_end = ne

    while True:
        while alive and heap[0][0] == prev_start:
            advance_top()
        if not alive:
            return out_s, out_e, out_g
        while True:
            start, end = heap[0][0], queue_end
            if -heap[0][1] == end:
                break
            advance_top()
            if not (alive and end == queue_end):
                break
        out_s.append(start)
        out_e.append(end)
        out_g.append(end - start + 1 - total_width)
        prev_start = start


def ordered_chain_spans(pos_lists: List[np.ndarray], slop: int):
    """One-doc NearSpansOrdered match spans (local coords): for each p0,
    the greedy monotone chain; returns (starts, ends_exclusive) of chains
    within slop, start-sorted — the exact span stream the reference emits."""
    if any(a is None or len(a) == 0 for a in pos_lists):
        return np.empty(0, np.int64), np.empty(0, np.int64)
    g0 = np.asarray(pos_lists[0], dtype=np.int64)
    cur = g0
    alive = np.ones(len(g0), dtype=bool)
    for arr in pos_lists[1:]:
        arr = np.asarray(arr, dtype=np.int64)
        j = np.searchsorted(arr, cur, side="right")
        ok = j < len(arr)
        alive &= ok
        cur = np.where(ok, arr[np.minimum(j, len(arr) - 1)], cur)
    n = len(pos_lists)
    sel = alive & ((cur - g0 - (n - 1)) <= slop)
    return g0[sel], cur[sel] + 1


def unordered_state_spans(pos_lists: List[np.ndarray], slop: int):
    """One-doc NearSpansUnordered matching states as spans (local coords),
    in emission order (non-decreasing (start, end) per the span queue's
    positionsOrdered): each visited state with
    (maxEnd - minStart) - n <= slop yields (minStart, maxEnd)."""
    n = len(pos_lists)
    if any(a is None or len(a) == 0 for a in pos_lists):
        return np.empty(0, np.int64), np.empty(0, np.int64)
    idx = [0] * n
    heap = [(int(arr[0]), i) for i, arr in enumerate(pos_lists)]
    heapq.heapify(heap)
    max_end = max(h[0] for h in heap) + 1
    ss: List[int] = []
    es: List[int] = []
    while True:
        ml = max_end - heap[0][0]
        if ml - n <= slop:
            ss.append(heap[0][0])
            es.append(max_end)
        _pos, i = heapq.heappop(heap)
        idx[i] += 1
        if idx[i] >= len(pos_lists[i]):
            return np.asarray(ss, np.int64), np.asarray(es, np.int64)
        p = int(pos_lists[i][idx[i]])
        if p + 1 > max_end:
            max_end = p + 1
        heapq.heappush(heap, (p, i))


def span_contain_filter(kind: str, bs, be, ls, le):
    """Two-pointer containment filters over one doc's span streams —
    literal transcriptions of SpanContainingQuery / SpanWithinQuery
    (search/spans/SpanContainingQuery.java:92-130,
    SpanWithinQuery.java:93-131). Streams sorted by (start, end).

    containing: iterate big; advance little while little.start < big.start
    (exhaustion ends the doc); emit big iff big.end >= little.end.
    within: iterate little; advance big while big.end < little.end
    (ends are NOT monotone for near spans, so the pointer is stateful —
    exactly the reference's persistent littleSpans/bigSpans cursors);
    emit little iff big.start <= little.start.

    Returns (starts, ends) of the emitted SOURCE spans."""
    out_s: List[int] = []
    out_e: List[int] = []
    if kind == "containing":
        i = 0
        for k in range(len(bs)):
            while i < len(ls) and ls[i] < bs[k]:
                i += 1
            if i >= len(ls):
                break
            if be[k] >= le[i]:
                out_s.append(int(bs[k]))
                out_e.append(int(be[k]))
    elif kind == "within":
        i = 0
        for j in range(len(ls)):
            while i < len(bs) and be[i] < le[j]:
                i += 1
            if i >= len(bs):
                break
            if bs[i] <= ls[j]:
                out_s.append(int(ls[j]))
                out_e.append(int(le[j]))
    else:
        raise ValueError(f"unknown span contain kind {kind!r}")
    return np.asarray(out_s, np.int64), np.asarray(out_e, np.int64)


def _span_unordered_walk(pos_lists: List[np.ndarray], slop: int) -> float:
    """Literal NearSpansUnordered walk, one doc: check the current state,
    advance the min-start clause, repeat until one clause exhausts."""
    n = len(pos_lists)
    idx = [0] * n
    heap = [(int(arr[0]), i) for i, arr in enumerate(pos_lists)]
    heapq.heapify(heap)
    max_end = max(h[0] for h in heap) + 1
    freq = 0.0
    while True:
        ml = max_end - heap[0][0]
        if ml - n <= slop:
            freq += 1.0 / (1.0 + ml)
        _pos, i = heapq.heappop(heap)
        idx[i] += 1
        if idx[i] >= len(pos_lists[i]):
            return freq
        p = int(pos_lists[i][idx[i]])
        if p + 1 > max_end:
            max_end = p + 1
        heapq.heappush(heap, (p, i))


# ---------------------------------------------------------------------------
# Extended / minimum-should-match interval sources
# (queries/intervals/ExtendedIntervalsSource.java,
#  MinimumShouldMatchIntervalsSource.java)
# ---------------------------------------------------------------------------


def extended_interval_freqs(
    pos_by_clause: List[List],
    ordered: bool,
    max_gaps: int,
    n_docs: int,
    before: int,
    after: int,
    min_extent: int | None = None,
) -> np.ndarray:
    """Intervals.extend(source, before, after)
    (queries/intervals/ExtendedIntervalsSource.java): each interval of the
    wrapped source maps to (max(start - before, 0), end + after) — the
    stream is NOT re-minimized (the reference emits the mapped intervals
    as-is; a 1:1 map of a minimal stream). The wrapped source's maxgaps
    filter applies BEFORE extension (filters compose inside-out), and
    minExtent grows by before + after (ExtendedIntervalsSource.minExtent),
    so freq = Σ 1/max(extLength - (minExtent + before + after) + 1, 1) —
    identical to the unextended weight except where the start clamps at
    position 0. Global doc-offset coordinates: the per-doc clamp floor is
    the doc's base offset."""
    n = len(pos_by_clause)
    if min_extent is None:
        min_extent = n
    g = [_concat_global(lists) for lists in pos_by_clause]
    s, e = (
        ordered_minimal_intervals(g) if ordered else unordered_minimal_intervals(g)
    )
    out = np.zeros(n_docs, dtype=np.float64)
    if len(s) == 0:
        return out
    if max_gaps >= 0:
        sel = ((e - s + 1) - n) <= max_gaps
        s, e = s[sel], e[sel]
    if len(s) == 0:
        return out
    doc_base = (s >> _DOC_SHIFT) << _DOC_SHIFT
    s2 = np.maximum(s - before, doc_base)
    e2 = e + after
    ext_min = min_extent + before + after
    w = 1.0 / np.maximum((e2 - s2 + 1) - ext_min + 1, 1).astype(np.float64)
    np.add.at(out, (e2 >> _DOC_SHIFT).astype(np.int64), w)
    return out


def atleast_minimal_intervals(g_by_slot: List[np.ndarray], m: int):
    """Minimal intervals covering at least `m` of the point-term slots
    (queries/intervals/MinimumShouldMatchIntervalsSource.java): for each
    candidate end e (any slot occurrence), the tightest window ending at e
    that still covers m distinct slots starts at the m-th LARGEST of the
    per-slot latest-occurrence-<= e values; minimality is the usual
    smallest-end-per-start staircase (starts are nondecreasing in e, so
    dedup-by-start suffices). Global doc-offset coordinates."""
    nonempty = [a for a in g_by_slot if len(a)]
    if len(nonempty) < m:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    union = np.unique(np.concatenate(nonempty))
    k = len(nonempty)
    # L[i, j] = latest occurrence of slot i at-or-before union[j] (same doc),
    # else -1 — one searchsorted per slot over the merged event stream
    L = np.full((k, len(union)), -1, dtype=np.int64)
    for i, arr in enumerate(nonempty):
        j = np.searchsorted(arr, union, side="right") - 1
        ok = j >= 0
        v = arr[np.maximum(j, 0)]
        ok &= (v >> _DOC_SHIFT) == (union >> _DOC_SHIFT)
        L[i] = np.where(ok, v, -1)
    # m-th largest per column == (k-m)-th order statistic ascending
    s = np.partition(L, k - m, axis=0)[k - m]
    valid = s >= 0
    s, e = s[valid], union[valid]
    if len(s) == 0:
        return s, e
    keep = np.ones(len(s), dtype=bool)
    keep[1:] = s[1:] != s[:-1]
    return s[keep], e[keep]


def atleast_interval_freqs(
    pos_by_slot: List[List], m: int, max_gaps: int, n_docs: int
) -> np.ndarray:
    """Per-doc freq for Intervals.atLeast(m, sources...): minExtent is the
    sum of the m smallest sub-extents — m for point-term slots
    (MinimumShouldMatchIntervalsSource.minExtent) — and the optional
    maxgaps filter counts width - m as everywhere else."""
    g = [_concat_global(lists) for lists in pos_by_slot]
    s, e = atleast_minimal_intervals(g, m)
    out = np.zeros(n_docs, dtype=np.float64)
    if len(s) == 0:
        return out
    length = e - s + 1
    if max_gaps >= 0:
        sel = (length - m) <= max_gaps
        s, e, length = s[sel], e[sel], length[sel]
    if len(s) == 0:
        return out
    w = 1.0 / np.maximum(length - m + 1, 1).astype(np.float64)
    np.add.at(out, (e >> _DOC_SHIFT).astype(np.int64), w)
    return out
