"""Pluggable similarities (SURVEY.md §2.6): BM25 (default), ClassicSimilarity
(TF-IDF), BooleanSimilarity, LMDirichletSimilarity — each a vectorized
scorer factory over (freq, norm_byte) arrays.

Formula parity (float32 mode mirrors the reference float op order):
- Classic: idf = (float)(log((N+1)/(df+1)) + 1)  [ClassicSimilarity.java:60-64]
  normTable[i] = 1/sqrt(byte4ToInt(i)), normTable[0] = 1/normTable[255]
  [TFIDFSimilarity.java:455-474]; score = tf(freq)*queryWeight*normTable[n]
  with tf = (float)sqrt(freq) [TFIDFScorer.score, ClassicSimilarity.java:42-46]
- Boolean: score = boost, norms ignored [BooleanSimilarity.java]
- LMDirichlet: score = max(0, boost*(ln(1 + freq/(mu*Pc)) + ln(mu/(dl+mu)))),
  Pc = (ttf+1)/(sumTotalTermFreq+1), dl = byte4ToInt(norm), mu = 2000
  [LMDirichletSimilarity.java score(), LMSimilarity.DefaultCollectionModel]
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

import numpy as np

from . import bm25
from .bm25 import CollectionStats
from .smallfloat import LENGTH_TABLE


@dataclass(frozen=True)
class TermStatsIn:
    doc_freq: int
    total_term_freq: int


class Similarity:
    """Factory: per-query-term vectorized scorer."""

    name = "base"

    def scorer(self, boost, ts: TermStatsIn, stats: CollectionStats, dtype=np.float32):
        raise NotImplementedError

    def multi_scorer(
        self, boost, ts_list: Sequence[TermStatsIn], stats: CollectionStats, dtype=np.float32
    ):
        """Blended scorer for phrase/synonym-style groups (sum of idfs where
        the notion applies)."""
        raise NotImplementedError(f"{self.name} has no multi-term blending")


class BM25(Similarity):
    name = "bm25"

    def __init__(self, k1: float = 1.2, b: float = 0.75):
        self.k1, self.b = k1, b

    def scorer(self, boost, ts, stats, dtype=np.float32):
        return bm25.make_scorer(
            boost,
            float(bm25.idf(ts.doc_freq, stats.doc_count, dtype=dtype)),
            stats,
            k1=self.k1,
            b=self.b,
            dtype=dtype,
        )

    def multi_scorer(self, boost, ts_list, stats, dtype=np.float32):
        return bm25.make_scorer(
            boost,
            float(
                bm25.idf_sum([t.doc_freq for t in ts_list], stats.doc_count, dtype=dtype)
            ),
            stats,
            k1=self.k1,
            b=self.b,
            dtype=dtype,
        )


@dataclass(frozen=True)
class _TableScorer:
    """score = tf_fn(freq) * weight * table[norm]."""

    weight: float
    table: np.ndarray
    dtype: type

    def score(self, freq, norm_bytes):
        dt = self.dtype
        f = np.sqrt(np.asarray(freq).astype(dt)).astype(dt)
        nv = self.table[np.asarray(norm_bytes, dtype=np.int64) & 0xFF]
        return ((f * dt(self.weight)).astype(dt) * nv).astype(dt)

    def max_score(self, impact_freqs, impact_norms):
        if len(impact_freqs) == 0:
            return float("inf")
        return float(self.score(impact_freqs, impact_norms).max())


class Classic(Similarity):
    name = "classic"

    def _idf(self, df: int, n: int, dtype):
        return dtype(np.log((n + 1) / float(df + 1)) + 1.0)

    def _table(self, dtype):
        # built from EXACT decoded ints (TFIDFSimilarity.java:467-471 passes
        # the int length to lengthNorm), unlike BM25/SimilarityBase whose
        # LENGTH_TABLE is float32
        from .smallfloat import byte4_to_int

        lt = byte4_to_int(np.arange(256)).astype(np.float64)
        with np.errstate(divide="ignore"):
            t = (1.0 / np.sqrt(lt)).astype(dtype)
        t[0] = dtype(1.0) / t[255]  # TFIDFSimilarity.java:473
        return t

    def scorer(self, boost, ts, stats, dtype=np.float32):
        idf = self._idf(ts.doc_freq, stats.doc_count, dtype)
        return _TableScorer(
            weight=float(dtype(boost) * idf), table=self._table(dtype), dtype=dtype
        )

    def multi_scorer(self, boost, ts_list, stats, dtype=np.float32):
        total = 0.0
        for t in ts_list:
            total += float(self._idf(t.doc_freq, stats.doc_count, dtype))
        return _TableScorer(
            weight=float(dtype(boost) * dtype(total)),
            table=self._table(dtype),
            dtype=dtype,
        )


@dataclass(frozen=True)
class _TfTableScorer:
    """score = tf_fn(freq) * weight * table[norm] — _TableScorer with a
    pluggable tf function (SweetSpotSimilarity overrides tf)."""

    weight: float
    table: np.ndarray
    tf_fn: object
    dtype: type

    def score(self, freq, norm_bytes):
        dt = self.dtype
        f = self.tf_fn(np.asarray(freq).astype(dt)).astype(dt)
        nv = self.table[np.asarray(norm_bytes, dtype=np.int64) & 0xFF]
        return ((f * dt(self.weight)).astype(dt) * nv).astype(dt)

    def max_score(self, impact_freqs, impact_norms):
        if len(impact_freqs) == 0:
            return float("inf")
        return float(self.score(impact_freqs, impact_norms).max())


class SweetSpot(Classic):
    """SweetSpotSimilarity (misc/SweetSpotSimilarity.java): ClassicSimilarity
    with a plateau length norm
    ``1/sqrt(steepness*(|x-min|+|x-max|-(max-min))+1)`` (:94-115, f32 op
    order: int abs-sum → f32 product/add → double sqrt → f32) and a
    baseline tf ``freq<=tf_min ? tf_base : sqrt(freq + tf_base² - tf_min)``
    (:137-142), or the hyperbolic-tangent tf (:155-175) when
    ``hyperbolic=(min,max,base,xoffset)`` is set. Defaults degrade to
    Classic (1/sqrt(x) norm, sqrt tf)."""

    name = "sweetspot"

    def __init__(
        self,
        ln_min: int = 1,
        ln_max: int = 1,
        steepness: float = 0.5,
        tf_base: float = 0.0,
        tf_min: float = 0.0,
        hyperbolic=None,
    ):
        self.ln_min, self.ln_max, self.steepness = ln_min, ln_max, steepness
        self.tf_base, self.tf_min = tf_base, tf_min
        self.hyperbolic = tuple(hyperbolic) if hyperbolic else None

    def _table(self, dtype):
        # f32 mode keeps the reference's op order (f32 product/add, double
        # sqrt, f32 cast); f64 mode stays all-double for the SQL oracle
        from .smallfloat import byte4_to_int

        lengths = byte4_to_int(np.arange(256)).astype(np.int64)
        l, h = self.ln_min, self.ln_max
        inner = np.abs(lengths - l) + np.abs(lengths - h) - (h - l)
        td = dtype(self.steepness) * inner.astype(dtype) + dtype(1.0)
        t = (1.0 / np.sqrt(td.astype(np.float64))).astype(dtype)
        t[0] = dtype(1.0) / t[255]  # TFIDFSimilarity.java:473
        return t

    def _tf_fn(self, dtype):
        if self.hyperbolic is not None:
            mn, mx, base, xoff = self.hyperbolic

            def hyper(freq):
                f = np.asarray(freq, dtype=dtype)
                x = (f - dtype(xoff)).astype(np.float64)
                px, nx = np.power(base, x), np.power(base, -x)
                res = dtype(mn) + (
                    dtype((dtype(mx) - dtype(mn)) / dtype(2.0))
                    * ((px - nx) / (px + nx) + 1.0)
                ).astype(dtype)
                return np.where(f == 0.0, dtype(0.0), res)

            return hyper
        base, mn = self.tf_base, self.tf_min

        def baseline(freq):
            f = np.asarray(freq, dtype=dtype)
            b, m = dtype(base), dtype(mn)
            above = np.sqrt((f + b * b - m).astype(np.float64)).astype(dtype)
            out = np.where(f <= m, b, above)
            return np.where(f == 0.0, dtype(0.0), out)

        return baseline

    def scorer(self, boost, ts, stats, dtype=np.float32):
        idf = self._idf(ts.doc_freq, stats.doc_count, dtype)
        return _TfTableScorer(
            weight=float(dtype(boost) * idf),
            table=self._table(dtype),
            tf_fn=self._tf_fn(dtype),
            dtype=dtype,
        )

    def multi_scorer(self, boost, ts_list, stats, dtype=np.float32):
        total = 0.0
        for t in ts_list:
            total += float(self._idf(t.doc_freq, stats.doc_count, dtype))
        return _TfTableScorer(
            weight=float(dtype(boost) * dtype(total)),
            table=self._table(dtype),
            tf_fn=self._tf_fn(dtype),
            dtype=dtype,
        )


@dataclass(frozen=True)
class _ConstScorer:
    weight: float
    dtype: type

    def score(self, freq, norm_bytes):
        return np.full(len(np.asarray(freq)), self.dtype(self.weight), dtype=self.dtype)

    def max_score(self, impact_freqs, impact_norms):
        # the weight as score() returns it: float32(0.3) rounds UP, so the
        # raw float would sit below every score and WAND would prune all
        return float(self.dtype(self.weight))


class Boolean(Similarity):
    name = "boolean"

    def scorer(self, boost, ts, stats, dtype=np.float32):
        return _ConstScorer(weight=float(boost), dtype=dtype)

    def multi_scorer(self, boost, ts_list, stats, dtype=np.float32):
        return _ConstScorer(weight=float(boost), dtype=dtype)


@dataclass(frozen=True)
class _LMDScorer:
    boost: float
    mu: float
    pc: float
    dtype: type

    def score(self, freq, norm_bytes):
        dt = self.dtype
        f = np.asarray(freq).astype(np.float64)
        dl = LENGTH_TABLE.astype(np.float64)[np.asarray(norm_bytes, dtype=np.int64) & 0xFF]
        s = self.boost * (
            np.log(1.0 + f / (self.mu * self.pc)) + np.log(self.mu / (dl + self.mu))
        )
        return np.maximum(s, 0.0).astype(dt)

    def max_score(self, impact_freqs, impact_norms):
        if len(impact_freqs) == 0:
            return float("inf")
        return float(self.score(impact_freqs, impact_norms).max())


class LMDirichlet(Similarity):
    name = "lmdirichlet"

    def __init__(self, mu: float = 2000.0):
        self.mu = mu

    def scorer(self, boost, ts, stats, dtype=np.float32):
        pc = (ts.total_term_freq + 1.0) / (stats.sum_total_term_freq + 1.0)
        return _LMDScorer(boost=float(boost), mu=self.mu, pc=pc, dtype=dtype)


@dataclass(frozen=True)
class _FnScorer:
    """SimilarityBase.BasicSimScorer analog: the whole formula runs in
    float64 (Java double) and is cast to ``dtype`` ONCE at the end — the
    `(float)` cast in SimilarityBase.SimScorer.score, so float32 mode is
    op-order exact. docLen = LENGTH_TABLE[norm & 0xFF]
    (SimilarityBase.java:218-225 getLengthValue)."""

    fn: object  # (freq_f64, docLen_f64) -> f64 array
    dtype: type

    def score(self, freq, norm_bytes):
        f = np.asarray(freq, dtype=np.float64)
        dl = LENGTH_TABLE.astype(np.float64)[
            np.asarray(norm_bytes, dtype=np.int64) & 0xFF
        ]
        return np.asarray(self.fn(f, dl), dtype=np.float64).astype(self.dtype)

    def max_score(self, impact_freqs, impact_norms):
        if len(impact_freqs) == 0:
            return float("inf")
        return float(self.score(impact_freqs, impact_norms).max())


class LMJelinekMercer(Similarity):
    """LMJelinekMercerSimilarity.java:62-68: score = boost * ln(1 +
    ((1-lambda) * freq / docLen) / (lambda * Pc)), Pc = (ttf+1)/(sttf+1)
    (LMSimilarity.DefaultCollectionModel, LMSimilarity.java:145-147).
    The reference constructor requires lambda; 0.1 is our default."""

    name = "lmjelinekmercer"

    def __init__(self, lam: float = 0.1):
        self.lam = float(lam)

    def scorer(self, boost, ts, stats, dtype=np.float32):
        pc = (ts.total_term_freq + 1.0) / (stats.sum_total_term_freq + 1.0)
        lam, b = self.lam, float(boost)

        def fn(f, dl):
            return b * np.log(1.0 + ((1.0 - lam) * f / dl) / (lam * pc))

        return _FnScorer(fn, dtype)


def _make_normalization(kind: str, c: float, mu: float, z: float):
    """Normalization component (Normalization.java family): returns
    tfn(f, dl, ctx) with ctx = per-term stats dict."""
    if kind == "h1":  # NormalizationH1.java:56-58: tf * c * (avgfl / len)
        return lambda f, dl, ctx: f * c * (ctx["avgfl"] / dl)
    if kind == "h2":  # NormalizationH2.java:57-59: tf * log2(1 + c*avgfl/len)
        return lambda f, dl, ctx: f * np.log2(1.0 + c * ctx["avgfl"] / dl)
    if kind == "h3":  # NormalizationH3.java:48-52
        return lambda f, dl, ctx: (
            (f + mu * ((ctx["ttf"] + 1.0) / (ctx["nft"] + 1.0))) / (dl + mu) * mu
        )
    if kind == "z":  # NormalizationZ.java:49-51: tf * (avgfl/len)^z
        return lambda f, dl, ctx: f * np.power(ctx["avgfl"] / dl, z)
    if kind == "none":  # Normalization.NoNormalization
        return lambda f, dl, ctx: f
    raise ValueError(f"unknown normalization {kind!r}")


class DFR(Similarity):
    """DFRSimilarity.java:104-108, component-configurable: basic_model in
    {g, if, in, ine} (BasicModelG.java:36-50, BasicModelIF/In/Ine.java:34-45),
    after_effect in {b, l} (AfterEffectB.java:32-36 = (F+1)/n with F=ttf+1,
    n=df+1; AfterEffectL.java:32-34 = 1), normalization in
    {h1, h2, h3, z, none}. Default = the GB2 configuration."""

    name = "dfr"

    def __init__(self, basic_model: str = "g", after_effect: str = "b",
                 normalization: str = "h2", c: float = 1.0, mu: float = 800.0,
                 z: float = 0.30):
        self.basic_model, self.after_effect = basic_model, after_effect
        self.norm = _make_normalization(normalization, c, mu, z)

    def scorer(self, boost, ts, stats, dtype=np.float32):
        N = float(stats.doc_count)
        F_raw = float(ts.total_term_freq)
        n_raw = float(ts.doc_freq)
        ae = (
            (F_raw + 2.0) / (n_raw + 1.0) if self.after_effect == "b" else 1.0
        )
        bm = self.basic_model
        if bm == "g":
            F_ = F_raw + 1.0
            lam = F_ / (N + F_)
            A = np.log2(lam + 1.0)
            Bv = np.log2((1.0 + lam) / lam)
            model = lambda tfn: (Bv - (Bv - A) / (1.0 + tfn)) * ae
        else:
            if bm == "if":
                A = np.log2(1.0 + (N + 1.0) / (F_raw + 0.5))
            elif bm == "in":
                A = np.log2((N + 1.0) / (n_raw + 0.5))
            elif bm == "ine":
                ne = N * (1.0 - ((N - 1.0) / N) ** F_raw)
                A = np.log2((N + 1.0) / (ne + 0.5))
            else:
                raise ValueError(f"unknown basic model {bm!r}")
            model = lambda tfn: A * ae * (1.0 - 1.0 / (1.0 + tfn))
        ctx = {
            "avgfl": stats.sum_total_term_freq / float(stats.doc_count),
            "ttf": F_raw, "nft": float(stats.sum_total_term_freq),
        }
        b, norm = float(boost), self.norm

        def fn(f, dl):
            return b * model(norm(f, dl, ctx))

        return _FnScorer(fn, dtype)


class IB(Similarity):
    """IBSimilarity.java:93-96, component-configurable: distribution in
    {ll, spl} (DistributionLL.java:33-35; DistributionSPL.java:35-59 with
    the nextafter guards), lam in {df, ttf} (LambdaDF/LambdaTTF.java:32-40,
    float32-cast like the reference), normalization as in DFR. Default =
    the LL-DF-H2 configuration."""

    name = "ib"

    def __init__(self, distribution: str = "ll", lam: str = "df",
                 normalization: str = "h2", c: float = 1.0, mu: float = 800.0,
                 z: float = 0.30):
        self.distribution, self.lam_kind = distribution, lam
        self.norm = _make_normalization(normalization, c, mu, z)

    def scorer(self, boost, ts, stats, dtype=np.float32):
        num = ts.doc_freq if self.lam_kind == "df" else ts.total_term_freq
        lam = float(np.float32((num + 1.0) / (stats.doc_count + 1.0)))
        if lam == 1.0:  # Lambda*.java nextDown/nextUp guard
            lam = float(np.nextafter(np.float32(1.0), np.float32(0.0)))
        ctx = {
            "avgfl": stats.sum_total_term_freq / float(stats.doc_count),
            "ttf": float(ts.total_term_freq),
            "nft": float(stats.sum_total_term_freq),
        }
        b, norm, dist = float(boost), self.norm, self.distribution

        def fn(f, dl):
            tfn = norm(f, dl, ctx)
            if dist == "ll":
                return b * -np.log(lam / (tfn + lam))
            # SPL: q = 1 - 1/(tfn+1) (clamped below 1); pow = lam^q nudged
            # off lam so the log stays finite (DistributionSPL.java:38-58)
            q = 1.0 - 1.0 / (tfn + 1.0)
            q = np.where(q == 1.0, np.nextafter(1.0, 0.0), q)
            pw = np.power(lam, q)
            nudge = np.nextafter(lam, 0.0 if lam > 1 else 2.0)
            pw = np.where(pw == lam, nudge, pw)
            return b * -np.log((pw - lam) / (1.0 - lam))

        return _FnScorer(fn, dtype)


class DFI(Similarity):
    """DFISimilarity.java:58-69, independence in {chi2, standardized,
    saturated} (IndependenceChiSquared/Standardized/Saturated.java:33-35):
    expected = (ttf+1) * docLen / (numberOfFieldTokens+1); freq <= expected
    scores 0; else score = boost * log2(measure + 1)."""

    name = "dfi"

    def __init__(self, independence: str = "chi2"):
        self.independence = independence

    def scorer(self, boost, ts, stats, dtype=np.float32):
        ttf1 = ts.total_term_freq + 1.0
        nft1 = stats.sum_total_term_freq + 1.0
        b, ind = float(boost), self.independence

        def fn(f, dl):
            expected = ttf1 * dl / nft1
            if ind == "chi2":
                m = (f - expected) * (f - expected) / expected
            elif ind == "standardized":
                m = (f - expected) / np.sqrt(expected)
            elif ind == "saturated":
                m = (f - expected) / expected
            else:
                raise ValueError(f"unknown independence {ind!r}")
            return np.where(f <= expected, 0.0, b * np.log2(m + 1.0))

        return _FnScorer(fn, dtype)


class AxiomaticF2EXP(Similarity):
    """AxiomaticF2EXP.java:59-85 (s=0.35, k=0.35 defaults): score = boost *
    max(0, tfln * idf), tfln = freq / (freq + s + s*docLen/avgfl),
    idf = ((N+1)/df)^k; tf/ln/gamma components are 1/1/0 for F2EXP."""

    name = "axiomatic"

    def __init__(self, s: float = 0.35, k: float = 0.35):
        self.s, self.k = float(s), float(k)

    def scorer(self, boost, ts, stats, dtype=np.float32):
        avgfl = stats.sum_total_term_freq / float(stats.doc_count)
        idf = ((stats.doc_count + 1.0) / ts.doc_freq) ** self.k
        b, s = float(boost), self.s

        def fn(f, dl):
            tfln = f / (f + s + s * dl / avgfl)
            return np.maximum(0.0, b * tfln * idf)

        return _FnScorer(fn, dtype)


class AxiomaticF2LOG(Similarity):
    """AxiomaticF2LOG.java:49-69 (s=0.35): like F2EXP but
    idf = ln((N+1)/df)."""

    name = "axiomatic_f2log"

    def __init__(self, s: float = 0.35):
        self.s = float(s)

    def scorer(self, boost, ts, stats, dtype=np.float32):
        avgfl = stats.sum_total_term_freq / float(stats.doc_count)
        idf = np.log((stats.doc_count + 1.0) / ts.doc_freq)
        b, s = float(boost), self.s

        def fn(f, dl):
            tfln = f / (f + s + s * dl / avgfl)
            return np.maximum(0.0, b * tfln * idf)

        return _FnScorer(fn, dtype)


@dataclass(frozen=True)
class _MultiScorer:
    subs: tuple
    dtype: type

    def score(self, freq, norm_bytes):
        out = None
        for s in self.subs:
            v = np.asarray(s.score(freq, norm_bytes), dtype=self.dtype)
            out = v if out is None else (out + v).astype(self.dtype)
        return out

    def max_score(self, impact_freqs, impact_norms):
        if len(impact_freqs) == 0:
            return float("inf")
        return float(self.score(impact_freqs, impact_norms).max())


class MultiSimilarity(Similarity):
    """MultiSimilarity.java:64-70: per-doc score = float32-accumulated sum
    of the sub-similarities' scores (each sub casts to float first)."""

    name = "multi"

    def __init__(self, sims):
        self.sims = list(sims)

    def scorer(self, boost, ts, stats, dtype=np.float32):
        return _MultiScorer(
            tuple(s.scorer(boost, ts, stats, dtype) for s in self.sims), dtype
        )

    def multi_scorer(self, boost, ts_list, stats, dtype=np.float32):
        return _MultiScorer(
            tuple(s.multi_scorer(boost, ts_list, stats, dtype) for s in self.sims),
            dtype,
        )


SIMILARITIES = {
    "bm25": BM25,
    "classic": Classic,
    "sweetspot": SweetSpot,
    "boolean": Boolean,
    "lmdirichlet": LMDirichlet,
    "lmjelinekmercer": LMJelinekMercer,
    "dfr": DFR,
    "ib": IB,
    "dfi": DFI,
    "axiomatic": AxiomaticF2EXP,
    "axiomatic_f2log": AxiomaticF2LOG,
}
