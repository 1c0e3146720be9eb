"""BM25 scoring, float32 op-order identical to the reference
(search/similarities/BM25Similarity.java), with an alternate float64 mode used
for cross-engine (DuckDB) oracle comparison.

float32 mode mirrors exactly:
- idf     = (float) log(1 + (N - n + 0.5) / (n + 0.5))      [double log -> f32 cast]
  (BM25Similarity.java:106-108)
- avgdl   = (float) (sumTotalTermFreq / (double) docCount)  (BM25Similarity.java:111-113)
- cache[i]= 1f / (k1 * ((1-b) + b * LENGTH_TABLE[i] / avgdl)) [all f32 ops]
  (BM25Similarity.java:203-208)
- weight  = boost * idf  [f32]                               (BM25Similarity.java:233)
- score   = weight - weight / (1f + freq * cache[norm&0xFF]) [all f32 ops]
  (BM25Similarity.java:244-252)
- multi-term (Synonym/Phrase) idf = (float) sum of f32 idfs in double
  (BM25Similarity.java:188-196)

float64 mode keeps every quantity a double (no casts); the DuckDB oracle SQL
mirrors that formula, so both sides agree to ~1e-15 and round(.,6) matches.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from .smallfloat import LENGTH_TABLE

K1_DEFAULT = 1.2
B_DEFAULT = 0.75


@dataclass(frozen=True)
class CollectionStats:
    doc_count: int
    sum_total_term_freq: int


def idf(doc_freq: int, doc_count: int, dtype=np.float32):
    """log(1 + (N - n + 0.5) / (n + 0.5)), computed in double.

    Deliberately ``log(1 + x)`` (two rounded double ops), NOT ``log1p`` —
    mirrors Math.log(1 + ...) in BM25Similarity.java:107 bit-for-bit."""
    v = np.log(1.0 + (doc_count - doc_freq + 0.5) / (doc_freq + 0.5))
    return dtype(v)


def idf_sum(doc_freqs, doc_count: int, dtype=np.float32):
    """Multi-term idf: sum the per-term (already cast) idfs in double, cast
    once at the end (BM25Similarity.java:188-196)."""
    total = 0.0
    for df in doc_freqs:
        total += float(idf(df, doc_count, dtype=dtype))
    return dtype(total)


@dataclass(frozen=True)
class BM25Scorer:
    """Per-(query-term-or-group) scorer: precomputed weight + 256-entry
    inverse-norm cache, vectorized score()."""

    weight: float
    cache: np.ndarray  # shape (256,), dtype matches mode
    dtype: type

    def score(self, freq: np.ndarray, norm_bytes: np.ndarray) -> np.ndarray:
        dt = self.dtype
        f = np.asarray(freq).astype(dt)
        inv = self.cache[np.asarray(norm_bytes, dtype=np.int64) & 0xFF]
        w = dt(self.weight)
        return (w - w / (dt(1.0) + f * inv)).astype(dt)

    def max_score(self, impact_freqs: np.ndarray, impact_norms: np.ndarray) -> float:
        """Upper bound over a block's competitive impacts
        (MaxScoreCache.java:58-64)."""
        if len(impact_freqs) == 0:
            return float(self.weight)
        return float(self.score(impact_freqs, impact_norms).max())


def make_scorer(
    boost: float,
    term_idf: float,
    stats: CollectionStats,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    dtype=np.float32,
) -> BM25Scorer:
    dt = dtype
    if dt is np.float32:
        avgdl = np.float32(stats.sum_total_term_freq / float(stats.doc_count))
        length_table = LENGTH_TABLE  # float32
        k1f, bf, one = np.float32(k1), np.float32(b), np.float32(1.0)
        cache = one / (k1f * ((one - bf) + bf * length_table / avgdl))
        weight = np.float32(boost) * np.float32(term_idf)
    else:
        avgdl = stats.sum_total_term_freq / float(stats.doc_count)
        length_table = LENGTH_TABLE.astype(np.float64)
        cache = 1.0 / (k1 * ((1.0 - b) + b * length_table / avgdl))
        weight = float(boost) * float(term_idf)
    return BM25Scorer(weight=float(weight), cache=cache.astype(dt), dtype=dt)


def term_scorer(
    boost: float,
    doc_freq: int,
    stats: CollectionStats,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    dtype=np.float32,
) -> BM25Scorer:
    return make_scorer(
        boost, float(idf(doc_freq, stats.doc_count, dtype=dtype)), stats, k1, b, dtype
    )


def score_postings(terms, decoded, scorers) -> np.ndarray:
    """float64 score of every posting of a :func:`codec.decode_blocks`
    batch whose block rows have the terms ``terms``: one elementwise
    ``scorers[term].score`` call per distinct term, so bit-identical to a
    per-row call. A term with no scorer scores 1.0 (constant score)."""
    codes, uniq = pd.factorize(terms)
    by_posting = codes[decoded.row]
    order = np.argsort(by_posting, kind="stable")
    bounds = np.searchsorted(by_posting[order], np.arange(len(uniq) + 1))
    out = np.ones(len(by_posting), dtype=np.float64)
    for c, term in enumerate(uniq):
        sc = scorers.get(term)
        if sc is not None:
            at = order[bounds[c]: bounds[c + 1]]
            out[at] = sc.score(decoded.freqs[at], decoded.norms[at])
    return out
