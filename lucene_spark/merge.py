"""Segment merging / compaction.

The reference merges segments by docID-remapped append (SegmentMerger.java,
DocIDMerger.java) under a TieredMergePolicy size heuristic
(TieredMergePolicy.java:85-92). In our engine docIDs are global from the
start, so merging is pure re-segmentation: every block row is decoded by the
Spark tier's batch decoder (search.decoded_postings over
codec.decode_blocks) into (term, doc_id, freq, norm[, positions]) rows, the
new segment id is doc_id div the new seg_size, and the block writer re-runs
per new segment. Blocks are always rebuilt from scratch after a merge —
never concatenated — so block boundaries stay deterministic regardless of
merge history (SURVEY.md §7.4 hot-term requirement).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, replace
from typing import List

from pyspark.sql import functions as F

from .build import POSTINGS_SCHEMA, Index, _segment_writer_fn
from .search import decoded_postings


@dataclass(frozen=True)
class MergePlan:
    """groups of source segment_ids -> one target segment each."""

    groups: List[List[int]]


def plan_merges(
    segment_sizes: dict, max_segments_per_merge: int = 10, floor_docs: int = 1024
) -> MergePlan:
    """Tiered-ish driver-side planner: greedily group the smallest segments
    (all below floor or the smallest tier) into merge groups of up to
    ``max_segments_per_merge``."""
    small = sorted(
        (s for s, n in segment_sizes.items() if n < floor_docs),
        key=lambda s: segment_sizes[s],
    )
    groups = [
        small[i : i + max_segments_per_merge]
        for i in range(0, len(small), max_segments_per_merge)
    ]
    return MergePlan(groups=[g for g in groups if len(g) > 1])


def plan_merges_tiered(
    segment_sizes: dict,
    max_merge_at_once: int = 10,
    segs_per_tier: float = 10.0,
    floor_docs: int = 1024,
    max_merged_docs: int = 5_000_000,
) -> MergePlan:
    """TieredMergePolicy.findMerges parity, in doc-count units
    (index/TieredMergePolicy.java:380-437 budget, :460-560 candidate
    enumeration, :644-692 scoring; deletes don't exist per-segment here so
    nonDelRatio = 1):

    - segments larger than max_merged_docs/2 are ineligible (too big);
    - allowed segment budget from the tier geometry: levelSize starts at
      max(smallest eligible, floor_docs); each tier admits segs_per_tier
      segments; the level grows by mergeFactor = min(max_merge_at_once,
      segs_per_tier) until the remainder fits one tier;
    - while over budget: every size-descending window of up to mergeFactor
      segments is a candidate (smaller segments are packed in when the max
      merged size is hit); score = skew * totAfter^0.05 with skew =
      floorSize(first)/Σ floorSize — lowest score wins; at most one
      too-large merge per pass."""
    mf = int(min(max_merge_at_once, segs_per_tier))
    too_big_cut = max_merged_docs / 2.0
    eligible = sorted(
        (s for s, n in segment_sizes.items() if n <= too_big_cut),
        key=lambda s: (-segment_sizes[s], s),
    )
    if not eligible:
        return MergePlan(groups=[])

    def floor_size(n: int) -> float:
        return float(max(n, floor_docs))

    # allowed segment budget (TieredMergePolicy.java:401-414)
    tot = sum(segment_sizes[s] for s in eligible)
    level = max(min(segment_sizes[s] for s in eligible), floor_docs)
    remaining = float(tot)
    allowed = 0.0
    while True:
        seg_count_level = remaining / level
        if seg_count_level < segs_per_tier or level >= max_merged_docs:
            allowed += math.ceil(seg_count_level)
            break
        allowed += segs_per_tier
        remaining -= segs_per_tier * level
        level = min(max_merged_docs, level * mf)
    allowed = max(allowed, segs_per_tier)

    groups: List[List[int]] = []
    have_large = False
    while len(eligible) > allowed:
        best, best_score, best_large = None, None, False
        for start in range(len(eligible)):
            cand: List[int] = []
            cand_docs = 0
            hit_too_large = False
            for idx in range(start, len(eligible)):
                if len(cand) >= mf or cand_docs >= max_merged_docs:
                    break
                n = segment_sizes[eligible[idx]]
                if cand_docs + n > max_merged_docs:
                    hit_too_large = True
                    if not cand:
                        cand.append(eligible[idx])
                    continue  # keep packing smaller segments
                cand.append(eligible[idx])
                cand_docs += n
            if len(cand) < 2 or (hit_too_large and have_large):
                continue
            tot_after = sum(segment_sizes[s] for s in cand)
            tot_floored = sum(floor_size(segment_sizes[s]) for s in cand)
            if hit_too_large:
                skew = 1.0 / mf
            else:
                skew = floor_size(segment_sizes[cand[0]]) / tot_floored
            score = skew * (tot_after ** 0.05)
            if best_score is None or score < best_score:
                best, best_score, best_large = cand, score, hit_too_large
        if best is None:
            break
        groups.append(best)
        have_large = have_large or best_large
        chosen = set(best)
        eligible = [s for s in eligible if s not in chosen]
    return MergePlan(groups=groups)


def merge_metrics(before: Index, after: Index, wall_sec: float) -> dict:
    """Merge metrics (north-rule 'lineage + merge metrics'): block/segment
    counts before and after, compaction ratio, wall time. Triggers one count
    job per side if the postings aren't materialized yet."""
    def side(ix: Index) -> dict:
        r = ix.postings.agg(
            F.count("*").alias("blocks"),
            F.countDistinct("segment_id").alias("segments"),
            F.sum("count").alias("postings"),
        ).collect()[0]
        return {
            "blocks": int(r["blocks"]),
            "segments": int(r["segments"]),
            "postings": int(r["postings"] or 0),
        }

    b, a = side(before), side(after)
    return {
        "before": b,
        "after": a,
        "block_compaction_ratio": round(b["blocks"] / max(a["blocks"], 1), 3),
        "wall_sec": round(wall_sec, 3),
    }


def merge_segments(
    index: Index, target_seg_size: int | None = None, drop_deletes: bool = False
) -> Index:
    """Full compaction: re-segment every posting at ``target_seg_size``
    (default: 8x the build seg_size). The decoded postings rows go through
    one shuffle (groupBy new segment) into the block writer.
    ``drop_deletes`` excludes tombstoned docs while re-blocking (the
    SegmentMerger live-docs filter)."""
    cfg = index.config
    new_seg = target_seg_size or cfg.seg_size * 8
    new_cfg = replace(cfg, seg_size=new_seg)
    # the int32 segment_id, checked in the same projection (no extra job):
    # an id past 2^31 segments fails the query instead of wrapping
    seg = F.expr(f"doc_id div {new_seg}")
    tf = decoded_postings(index.postings, cfg.with_positions).withColumn(
        "segment_id",
        F.when(
            (seg > 2**31 - 1) | (seg < -(2**31)),
            F.raise_error(F.concat(
                F.lit("segment_id overflow: doc_id "), F.col("doc_id").cast("string"),
                F.lit(f" div target_seg_size {new_seg} exceeds int32"),
            )),
        ).otherwise(seg.cast("int")),
    )
    if drop_deletes and index.deletes is not None:
        tf = tf.join(F.broadcast(index.deletes), "doc_id", "left_anti")
    postings = tf.groupBy("segment_id").applyInPandas(
        _segment_writer_fn(new_cfg), schema=POSTINGS_SCHEMA
    )
    return Index(
        docs=index.docs,
        terms=index.terms,
        postings=postings,
        stats=index.stats,
        config=new_cfg,
        deletes=None if drop_deletes else index.deletes,
        # soft deletes are RETAINED through merges (their docs are never
        # dropped here) — SoftDeletesRetentionMergePolicy semantics
        soft_deletes=index.soft_deletes,
    )


def add_indexes(base: Index, other: Index) -> Index:
    """IndexWriter.addIndexes analog: union postings of two compatible
    indexes whose doc_id ranges are disjoint, then re-aggregate stats. The
    union pins ``other``'s tables and frames (its unpersist() releases
    them); ``base`` keeps its own."""
    if base.config.seg_size != other.config.seg_size:
        raise ValueError("seg_size mismatch; merge_segments first")
    from .bm25 import CollectionStats

    terms = (
        base.terms.unionByName(other.terms)
        .groupBy("term")
        .agg(
            F.sum("doc_freq").alias("doc_freq"),
            F.sum("total_term_freq").alias("total_term_freq"),
            F.min("singleton_doc_id").alias("singleton_doc_id"),
            F.max("singleton_freq").alias("singleton_freq"),
            F.max("singleton_norm").alias("singleton_norm"),
        )
    )
    return Index(
        docs=base.docs.unionByName(other.docs),
        terms=terms,
        postings=base.postings.unionByName(other.postings),
        stats=CollectionStats(
            doc_count=base.stats.doc_count + other.stats.doc_count,
            sum_total_term_freq=base.stats.sum_total_term_freq
            + other.stats.sum_total_term_freq,
        ),
        config=base.config,
        pinned=(other.docs, other.terms, other.postings, *other.pinned),
    )


def append_documents(
    base: Index,
    new_docs,
    content_col: str = None,
    doc_id_col: str = None,
    order_cols=None,
    num_partitions: int = None,
) -> Index:
    """Incremental ingest (IndexWriter.addDocuments analog): index the new
    batch with doc_ids continuing after the base index and union it in via
    :func:`add_indexes`. New docs use the base config; global stats/term
    stats re-aggregate. Segments stay doc_id // seg_size, so the appended
    docs land in fresh segments past the base ones."""
    from .build import assign_doc_ids, build_index

    if doc_id_col is None and not order_cols:
        raise ValueError("need doc_id_col or order_cols")
    # shift past the LARGEST existing doc_id, not doc_count: after
    # expunge_deletes (or any non-dense base) doc_count < max(doc_id)+1 and a
    # doc_count shift would silently merge new docs into existing ids
    mx = base.docs.agg(F.max("doc_id").alias("mx")).collect()[0]["mx"]
    base_n = int(mx) + 1 if mx is not None else 0
    parted = None
    if doc_id_col is None:
        if num_partitions is None:
            num_partitions = max(new_docs.sparkSession.sparkContext.defaultParallelism, 4)
        new_docs = assign_doc_ids(new_docs, list(order_cols), num_partitions)
        parted, doc_id_col = new_docs._doc_id_parted, "doc_id"
    shifted = new_docs.withColumn(
        "doc_id", F.col(doc_id_col).cast("long") + F.lit(base_n)
    )
    delta = build_index(
        shifted, base.config, content_col=content_col, doc_id_col="doc_id",
        num_partitions=num_partitions, auto_seg_size=False, eager=True,
    )
    if parted is not None:
        parted.unpersist()
    return add_indexes(base, delta)
