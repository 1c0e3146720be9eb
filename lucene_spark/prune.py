"""Block-max (WAND-style) score pruning — the set-at-a-time re-expression of
the reference's impact machinery (SURVEY.md §4.3):

- per-block upper bound ub(t, block) = max score over the block's competitive
  impacts — MaxScoreCache.computeMaxScore (search/MaxScoreCache.java:58-64)
- θ = a valid lower bound on the k-th best score, from exactly scoring the
  most promising block per term — plays setMinCompetitiveScore
  (search/TopScoreDocCollector.java:320-339)
- prune rule: keep block b of term t iff
      ub(t, b) + Σ_{t' ≠ t} global_max(t') ≥ θ
  (the WAND condition, search/WANDScorer.java:30-53); every block containing
  a doc whose exact score ≥ θ necessarily survives for every contributing
  term, so all true top-k docs are scored exactly; pruned-away docs can only
  be under-scored and their exact score is < θ ≤ k-th — soundness does not
  depend on θ quality, only speed does.

Applies to: single terms, flat OR-of-terms (WANDScorer case), flat
AND-of-terms (BlockMaxConjunctionScorer case, Boolean2ScorerSupplier.java:202-207).
Equivalence with the unpruned path is asserted by tests on every query shape
(SearchEquivalenceTestBase style).
"""

from __future__ import annotations

from typing import Dict, Iterator, List, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .bm25 import BM25Scorer
from .query import BooleanQuery, Occur, Query, TermQuery
from .search import scored_postings


def _flat_term_clauses(q: Query) -> Optional[Tuple[str, List[TermQuery], int]]:
    """Recognize shapes the pruned executor handles:
    ('or', terms, msm) | ('and', terms, 0) | single term."""
    if isinstance(q, TermQuery):
        return ("or", [q], 1)
    if isinstance(q, BooleanQuery):
        occurs = {c.occur for c in q.clauses}
        if q.boost != 1.0:
            return None
        if not all(isinstance(c.query, TermQuery) for c in q.clauses):
            return None
        if occurs == {Occur.SHOULD} and q.minimum_should_match <= 1:
            return ("or", [c.query for c in q.clauses], 1)
        if occurs == {Occur.MUST} and q.minimum_should_match == 0:
            return ("and", [c.query for c in q.clauses], 0)
    return None


_MIN_PRUNABLE = 100_000


def min_prunable_postings() -> int:
    import os

    return int(os.environ.get("LUCENE_SPARK_MIN_PRUNABLE", _MIN_PRUNABLE))


def try_pruned_topk(searcher, q: Query, k: int) -> Optional[DataFrame]:
    """DataFrame wrapper over try_pruned_topk_rows (the Searcher.search API
    returns DataFrames; top_docs consumes the rows directly and skips the
    local-relation round-trip job)."""
    rows = try_pruned_topk_rows(searcher, q, k)
    if rows is None:
        return None
    if not rows:
        return searcher._empty()
    return searcher.spark.createDataFrame(
        [(int(d), float(s)) for d, s in rows], "doc_id long, score double"
    )


def try_pruned_topk_rows(searcher, q: Query, k: int):
    """Top-k [(doc_id, score)] via block-max pruning, or None when the query
    shape / postings volume isn't handled here (caller falls back to the
    exhaustive path). An empty LIST means handled-and-no-hits."""
    shape = _flat_term_clauses(q)
    if shape is None:
        return None
    mode, term_qs, _ = shape
    terms = [tq.term for tq in term_qs]
    if len(set(terms)) != len(terms):
        return None
    stats = searcher.term_stats(terms)
    present = {t: s for t, s in stats.items() if t in stats}
    if mode == "and" and len(present) < len(terms):
        return []
    if not present:
        return []
    # pruning pays only when there is enough postings volume to skip; below
    # ~64 blocks per term the extra theta/bounds jobs cost more than decoding
    # everything (ImpactsDISI has the same "too small to bother" shape)
    total_df = sum(s.doc_freq for s in present.values())
    if total_df < min_prunable_postings():
        return None

    scorers: Dict[str, BM25Scorer] = {}
    boosts: Dict[str, float] = {}
    for tq in term_qs:
        st = stats.get(tq.term)
        if st is None:
            continue
        scorers[tq.term] = searcher.scorer_for(tq.boost, st)
        boosts[tq.term] = float(tq.boost)

    driver = _topk_driver_wand(searcher, scorers, boosts, k, mode, terms)
    if driver is not _TOO_BIG:
        return driver

    return _topk_distributed_wand(searcher, scorers, boosts, k, mode, terms)


_DIST_ACH_TOPK = 128          # achieved scores kept per term in the meta cache
_DIST_META_CACHE_MAX = 65536  # cached per-(term, boost) metadata entries


def _dist_term_meta(searcher, scorers: Dict[str, BM25Scorer], boosts) -> dict:
    """Per-term WAND metadata — gmax, the top achieved block scores, the
    probe block key, the block count — fetched in ONE aggregation job for all
    missing terms and cached on the driver. A few hundred bytes per term
    regardless of index size: the distributed tier keeps the BLOCKS
    distributed but the per-term summary driver-resident, exactly like
    Lucene's memory-resident term dictionary fronting on-disk postings."""
    cache = searcher._dist_meta_cache
    missing = [t for t in scorers if (t, boosts[t]) not in cache]
    if missing:
        from pyspark.sql.window import Window

        mb = _block_bounds(searcher, {t: scorers[t] for t in missing})
        w = Window.partitionBy("term").orderBy(
            F.desc("ach"), F.asc("segment_id"), F.asc("block_id")
        )
        fetched = (
            mb.withColumn("rn", F.row_number().over(w))
            .groupBy("term")
            .agg(
                F.max("ub").alias("gmax"),
                F.count("*").alias("nblocks"),
                # top achieved scores, bounded per group (collect_list skips
                # the NULLs the `when` leaves on rows past the cutoff)
                F.reverse(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("rn") <= _DIST_ACH_TOPK, F.col("ach"))
                        )
                    )
                ).alias("top_ach"),
                F.max_by(
                    F.struct("segment_id", "block_id"),
                    F.struct(F.col("ub"), -F.col("segment_id"), -F.col("block_id")),
                ).alias("probe"),
            )
            .collect()
        )
        for r in fetched:
            if len(cache) >= _DIST_META_CACHE_MAX:
                cache.pop(next(iter(cache)))
            cache[(r["term"], boosts[r["term"]])] = {
                "gmax": float(r["gmax"]),
                "nblocks": int(r["nblocks"]),
                "top_ach": [float(x) for x in r["top_ach"]],
                "probe": (int(r["probe"]["segment_id"]), int(r["probe"]["block_id"])),
            }
        for t in missing:  # terms with no blocks (defensive)
            cache.setdefault(
                (t, boosts[t]),
                {"gmax": 0.0, "nblocks": 0, "top_ach": [], "probe": None},
            )
    return {t: cache[(t, boosts[t])] for t in scorers}


def _topk_distributed_wand(
    searcher, scorers: Dict[str, BM25Scorer], boosts, k: int, mode: str,
    terms: List[str],
) -> list:
    """Distributed block-max WAND: per-term driver metadata (one cached job)
    + a single decode pass whose scanner applies the WAND condition INLINE
    from the impacts riding on each postings row — bounds are read where the
    block is, never joined (the skip-data-adjacent layout of
    codecs/lucene912/Lucene912PostingsWriter). A warm repeated query is ONE
    Spark action; a cold one adds only the metadata job (plus, for
    conjunctions, the probe decode)."""
    meta = _dist_term_meta(searcher, scorers, boosts)
    gmax = {t: meta[t]["gmax"] for t in scorers}
    sum_gmax = sum(gmax.values())
    tkey = (mode, k, tuple(sorted(boosts.items())))

    theta = searcher._theta_cache.get(tkey)
    if theta is None and mode == "or" and _no_deletes(searcher):
        # impact-achieved θ (see _impact_theta_pandas): k-th best achieved
        # score among one term's doc-disjoint blocks — no probe decode
        best = 0.0
        for m in meta.values():
            if m["nblocks"] >= k and len(m["top_ach"]) >= k:
                best = max(best, m["top_ach"][k - 1])
        if best > 0.0:
            theta = best
    if theta is None:
        # probe: exactly score the single highest-ub block per term
        probe = pd.DataFrame(
            [
                {"term": t, "segment_id": m["probe"][0], "block_id": m["probe"][1]}
                for t, m in meta.items()
                if m["probe"] is not None
            ]
        )
        if len(probe):
            probe_rows = _agg_block_keys(searcher, probe, scorers, mode, terms, k)
            theta = float(probe_rows[-1]["score"]) if len(probe_rows) >= k else 0.0
        else:
            theta = 0.0

    rest = {t: sum_gmax - gmax[t] for t in gmax}
    scored = scored_postings(
        searcher._postings_for(list(scorers)), scorers,
        keep=_wand_block_test(scorers, rest, float(theta)),
    )
    rows = _topk_collect(searcher, scored, mode, terms, k)
    if len(rows) >= k:
        # exact k-th score carries over to a repeated identical query
        # (setMinCompetitiveScore persistence across the tiers)
        if len(searcher._theta_cache) >= _BOUNDS_CACHE_MAX:
            searcher._theta_cache.pop(next(iter(searcher._theta_cache)))
        searcher._theta_cache[tkey] = float(rows[-1]["score"])
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def _wand_block_test(
    scorers: Dict[str, BM25Scorer], rest: Dict[str, float], theta: float
):
    """The WAND block test, applied at the scanner before any posting
    decode: a block row is kept unless ub + Σ_{t'≠t} gmax(t') < θ. ub(t, b)
    comes from the block's own impact columns (same dtype as doc scoring, so
    monotonicity makes it a true bound with no epsilon)."""
    return lambda pdf: np.array([
        not scorers[t].max_score(
            np.asarray(f, dtype=np.int64), np.asarray(n, dtype=np.int64)
        ) + rest[t] < theta
        for t, f, n in zip(pdf["term"], pdf["imp_freqs"], pdf["imp_norms"])
    ], dtype=bool)


def _topk_collect(searcher, scored: DataFrame, mode: str, terms: List[str], k: int) -> list:
    """Aggregate per-doc scores in Spark, apply deletes, collect the top-k
    (ties by ascending doc_id, TopScoreDocCollector.java:27-29)."""
    agg = scored.groupBy("doc_id").agg(
        F.sum("score").alias("score"), F.count("*").alias("nt")
    )
    if mode == "and":
        agg = agg.filter(F.col("nt") == len(terms))
    agg = searcher._apply_deletes(agg)  # deleted docs never match (or set θ)
    return (
        agg.select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .collect()
    )


_DRIVER_META_MAX = 2_000_000  # block rows; above this keep the bounds distributed
_BOUNDS_CACHE_MAX = 512       # cached (term, boost) bound tables per searcher
_TOO_BIG = object()  # sentinel: bounds exceed the driver cap — go distributed
_LITERAL_KEYS_MAX = 4096  # block keys inlined as a scan predicate; above: join


def _driver_meta_max() -> int:
    import os

    return int(os.environ.get("LUCENE_SPARK_DRIVER_META_MAX", _DRIVER_META_MAX))


def _topk_driver_wand(
    searcher, scorers: Dict[str, BM25Scorer], boosts: Dict[str, float],
    k: int, mode: str, terms: List[str],
):
    """Driver-resident WAND: the per-block upper bounds for the queried terms
    are small (one row per 128-posting block), so — exactly like Lucene keeps
    skip/impact data memory-resident — we pull them to the driver once
    (cached per term), run the WAND block selection locally, and spend Spark
    jobs only on decoding the surviving blocks: ONE job per query once
    bounds are cached and θ comes from the impact metadata / θ-cache.
    Returns [(doc_id, score)] rows, or _TOO_BIG if the bounds are too large
    to collect — the distributed tier in try_pruned_topk_rows then handles
    it."""
    cap = _driver_meta_max()
    if cap <= 0:
        return _TOO_BIG
    cache = searcher._bounds_cache
    missing = [t for t in scorers if (t, boosts[t]) not in cache]
    bulk = getattr(searcher, "_bounds_bulk", None)
    if bulk is not None and missing:
        # serve boost-1.0 lookups from the preloaded term-sorted bulk frame
        terms_arr, frame = bulk
        still = []
        for t in missing:
            if boosts[t] != 1.0:
                still.append(t)
                continue
            lo = np.searchsorted(terms_arr, t, side="left")
            hi = np.searchsorted(terms_arr, t, side="right")
            if len(cache) >= _BOUNDS_CACHE_MAX:
                cache.pop(next(iter(cache)))
            cache[(t, 1.0)] = frame.iloc[lo:hi].reset_index(drop=True)
        missing = still
    if missing:
        fetched = _block_bounds(searcher, {t: scorers[t] for t in missing}).toPandas()
        if len(fetched) > cap:
            return _TOO_BIG
        for t, grp in fetched.groupby("term"):
            if len(cache) >= _BOUNDS_CACHE_MAX:
                cache.pop(next(iter(cache)))
            cache[(t, boosts[t])] = grp.reset_index(drop=True)
        for t in missing:  # terms with no blocks (shouldn't happen, but pin)
            cache.setdefault((t, boosts[t]), fetched.iloc[0:0])
    meta = pd.concat(
        [cache[(t, boosts[t])] for t in scorers], ignore_index=True
    )
    if len(meta) == 0:
        return []
    if len(meta) > cap:
        return _TOO_BIG

    gmax = meta.groupby("term")["ub"].max().to_dict()
    sum_gmax = sum(gmax.values())

    if mode == "and" and len(scorers) > 1:
        # BlockMaxConjunctionScorer analog: a block of t can only contribute
        # if its doc range overlaps a block of EVERY other term. Block doc
        # ranges are (base_doc, last_doc], disjoint and sorted within a term.
        metas = {t: g for t, g in meta.groupby("term")}
        keep_parts = []
        for t, g in metas.items():
            lo = g["base_doc"].to_numpy() + 1
            hi = g["last_doc"].to_numpy()
            keep = np.ones(len(g), dtype=bool)
            for t2, g2 in metas.items():
                if t2 == t:
                    continue
                order2 = np.argsort(g2["last_doc"].to_numpy())
                hi2 = g2["last_doc"].to_numpy()[order2]
                lo2 = (g2["base_doc"].to_numpy() + 1)[order2]
                idx = np.searchsorted(hi2, lo, side="left")
                ok = idx < len(hi2)
                ok[ok] = lo2[idx[ok]] <= hi[ok]
                keep &= ok
            keep_parts.append(g[keep])
        meta = pd.concat(keep_parts, ignore_index=True)
        if len(meta) == 0:
            return []

    # theta: a repeated identical query reuses its previous exact k-th score
    # (scores are immutable given the index — still a valid lower bound),
    # skipping the probe job entirely.
    tkey = (mode, k, tuple(sorted(boosts.items())))
    theta = searcher._theta_cache.get(tkey)
    if theta is None:
        theta = _impact_theta_pandas(searcher, meta, k, mode)
    if theta is None:
        # probe: exactly score the single highest-ub block per term
        probe_idx = (
            meta.sort_values(["ub", "segment_id", "block_id"],
                             ascending=[False, True, True])
            .groupby("term", sort=False)
            .head(1)
        )
        probe_rows = _agg_block_keys(searcher, probe_idx, scorers, mode, terms, k)
        theta = float(probe_rows[-1]["score"]) if len(probe_rows) >= k else 0.0

    rest = {t: sum_gmax - gmax[t] for t in gmax}
    surviving = meta[
        meta["ub"].to_numpy() + np.array([rest[t] for t in meta["term"]]) >= theta
    ]
    rows = _agg_block_keys(searcher, surviving, scorers, mode, terms, k)
    if len(rows) >= k:
        if len(searcher._theta_cache) >= _BOUNDS_CACHE_MAX:
            searcher._theta_cache.pop(next(iter(searcher._theta_cache)))
        searcher._theta_cache[tkey] = float(rows[-1]["score"])
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def _no_deletes(searcher) -> bool:
    return (
        searcher.index.deletes is None
        and getattr(searcher.index, "soft_deletes", None) is None
    )


def _impact_theta_pandas(searcher, meta: pd.DataFrame, k: int, mode: str):
    """Probe-free θ from impact metadata alone (driver-resident frame).

    Every per-block `ach` is a score ACHIEVED by a real doc (impacts are
    actual (freq, norm) pairs). Blocks of one term cover disjoint doc-id
    ranges, so the k-th largest `ach` among one term's blocks certifies k
    DISTINCT docs whose full OR score is at least that value (per-term
    score ≤ summed score; BM25 partials are non-negative) — a valid lower
    bound on the true k-th score, with zero Spark jobs. Invalid when the
    achieving doc might be deleted, or for conjunctions (the achieving doc
    may not match the other required terms). Returns None when inapplicable
    (caller falls back to the probe decode)."""
    if mode != "or" or "ach" not in meta.columns or not _no_deletes(searcher):
        return None
    best = 0.0
    for _, g in meta.groupby("term", sort=False):
        a = g["ach"].to_numpy()
        if len(a) >= k:
            kth = float(np.partition(a, len(a) - k)[len(a) - k])
            if kth > best:
                best = kth
    return best if best > 0.0 else None


def _agg_block_keys(
    searcher, keys: pd.DataFrame, scorers: Dict[str, BM25Scorer],
    mode: str, terms: List[str], k: int,
) -> list:
    """Decode + score the blocks named by a (term, segment_id, block_id)
    pandas key set, aggregate per doc IN SPARK, and collect only the top-k
    (ties by ascending doc_id, TopScoreDocCollector.java:27-29). One job:
    the driver-resident keys become a LITERAL scan predicate (term isin +
    composite block-key isin) — no broadcast-exchange job, and the term
    filter still reaches the Parquet row-group stats."""
    if len(keys) <= _LITERAL_KEYS_MAX:
        composite = (
            F.col("segment_id").cast("long") * F.lit(1 << 32)
            + F.col("block_id").cast("long")
        )
        key_vals = [
            int(s) * (1 << 32) + int(b)
            for s, b in zip(keys["segment_id"], keys["block_id"])
        ]
        blocks = searcher.index.postings.filter(
            F.col("term").isin(sorted(set(keys["term"])))
            & composite.isin(key_vals)
        )
    else:
        keys_df = searcher.spark.createDataFrame(
            keys[["term", "segment_id", "block_id"]]
        )
        blocks = _blocks_for_keys(searcher, keys_df, scorers)
    scored = scored_postings(blocks, scorers)
    return _topk_collect(searcher, scored, mode, terms, k)


def _block_bounds(
    searcher, scorers: Dict[str, BM25Scorer], filter_terms: bool = True
) -> DataFrame:
    """Postings block metadata + ub column (one vectorized pass over impacts)."""
    scorer_map = scorers

    # every BM25Scorer of one similarity shares the SAME inverse-norm cache;
    # only the scalar weight differs per term. When that holds (the default
    # BM25 case), a whole batch of bounds is one vectorized expression.
    from .bm25 import BM25Scorer

    shared_cache = None
    weights = None
    scs = list(scorer_map.values())
    if scs and all(isinstance(s, BM25Scorer) for s in scs) and all(
        s.cache is scs[0].cache or np.array_equal(s.cache, scs[0].cache)
        for s in scs[1:]
    ):
        shared_cache = np.asarray(scs[0].cache, dtype=np.float64)
        weights = {t: float(s.weight) for t, s in scorer_map.items()}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ubs = np.empty(len(pdf), dtype=np.float64)
            achs = np.empty(len(pdf), dtype=np.float64)
            impf_col = pdf["imp_freqs"]
            impn_col = pdf["imp_norms"]
            if shared_cache is not None:
                lens = np.fromiter((len(x) for x in impf_col), dtype=np.int64,
                                   count=len(pdf))
                flat_f = np.concatenate(list(impf_col)).astype(np.float64)
                flat_n = np.concatenate(list(impn_col)).astype(np.int64)
                w = pdf["term"].map(weights).to_numpy(dtype=np.float64)
                w_flat = np.repeat(w, lens)
                inv = shared_cache[flat_n & 0xFF]
                scores = w_flat - w_flat / (1.0 + flat_f * inv)
                starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
                mx = np.maximum.reduceat(scores, starts)
                # f64 formula vs the query path's f32 scores: inflate a hair
                # so the bound stays an upper bound across rounding modes
                ubs = mx * (1.0 + 1e-6) + 1e-12
                # impacts are ACTUAL (freq, norm) pairs of docs in the block
                # (pareto_impacts keeps real pairs), so the block max is an
                # ACHIEVED score: deflated a hair, it is a sound per-doc
                # LOWER bound usable as θ without any probe decode
                achs = mx * (1.0 - 1e-6) - 1e-12
            else:
                for i, (term, impf, impn) in enumerate(
                    zip(pdf["term"], impf_col, impn_col)
                ):
                    impf = np.asarray(impf, dtype=np.int64)
                    impn = np.asarray(impn, dtype=np.int64)
                    ubs[i] = scorer_map[term].max_score(impf, impn)
                    # exact query-path score of the best achieved pair
                    achs[i] = float(scorer_map[term].score(impf, impn).max())
            out = pdf[["term", "segment_id", "block_id", "base_doc", "last_doc"]].copy()
            out["ub"] = ubs
            out["ach"] = achs
            yield out

    src = searcher.index.postings
    if filter_terms:
        src = src.filter(F.col("term").isin(list(scorers)))
    return (
        src
        .select("term", "segment_id", "block_id", "base_doc", "last_doc",
                "imp_freqs", "imp_norms")
        .mapInPandas(
            run,
            schema="term string, segment_id int, block_id int, "
                   "base_doc long, last_doc long, ub double, ach double",
        )
    )


def _blocks_for_keys(
    searcher, block_keys: DataFrame, scorers: Dict[str, BM25Scorer]
) -> DataFrame:
    """The postings block rows named by a (term, segment_id, block_id) key
    frame: a semi join against the broadcast keys."""
    return searcher.index.postings.filter(F.col("term").isin(list(scorers))).join(
        F.broadcast(block_keys.select("term", "segment_id", "block_id")),
        ["term", "segment_id", "block_id"],
        "left_semi",
    )
