"""Distributed inverted-index build.

Spark-first re-expression of the reference's indexing chain
(index/IndexingChain.java PerField.invert + FreqProxTermsWriter flush +
Lucene90PostingsWriter block encode — see SURVEY.md §3.1):

  corpus --range exchange (doc_id assignment)-->
         --ONE fused mapInPandas pass (invert: per-doc tf + positions +
           norm, then DWPT-local segment encode: sort terms, 128-posting
           blocks, delta/FOR/PFOR encode, impacts — segments flush as
           doc_id // seg_size boundaries pass)-->
         postings blocks + per-batch doc-stat rows
         (terms stats aggregate from the blocks; the docs table explodes
         from the doc-stat rows in the JVM — no second Python pass)

Scale design notes (100 TB / 1000 executors):
- doc_id assignment is the only global coordination: a range partition
  pinned by persist, a narrow per-partition row count and a driver-side
  prefix sum (no single-partition window; row positions are only read
  from the pinned partitions, so they are deterministic).
- invert and segment encode run fused inside one Arrow pass (the
  DocumentsWriterPerThread analog): NOTHING shuffles between tokenization
  and block encode — only encoded block rows (~30x smaller than tf rows)
  leave the task. Partition-boundary segments encode independently per
  side (benign duplicate block keys, same as sharded checkpoint builds).
  Hot terms still salt naturally: a term with docFreq 10^9 lands in
  ~10^9/seg_size independently-encoded block groups.
- pre-assigned doc_id ingest (partitions not doc-contiguous) falls back to
  one segment-grouping shuffle whose key (segment_id) is uniform by
  construction — segments are fixed-size doc_id ranges.
- term statistics use partial aggregation (groupBy(term).agg) — Catalyst
  map-side combines; no skew because values are tiny counters. On the
  term-major postings of an eager build the grouping needs no exchange.
- postings are written sorted by term so Parquet row-group min/max prune
  term lookups at query time (the role of Lucene's term-dictionary seek).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import Iterator, List, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import codec
from .analysis import flat_tokenize
from .bm25 import CollectionStats
from .config import IndexConfig
from .smallfloat import int_to_byte4

TF_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("segment_id", IntegerType()),
        StructField("term", StringType()),
        StructField("freq", IntegerType()),
        StructField("norm", IntegerType()),
        # discounted field length (length - numOverlap): what the norm byte
        # quantizes; equals the token count unless index-time synonyms
        # injected posIncr=0 overlaps
        StructField("dlen", IntegerType()),
        StructField("positions", ArrayType(IntegerType())),
    ]
)

POSTINGS_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("segment_id", IntegerType()),
        StructField("block_id", IntegerType()),
        StructField("base_doc", LongType()),
        StructField("count", IntegerType()),
        StructField("sum_freq", LongType()),
        StructField("last_doc", LongType()),
        StructField("docs_enc", BinaryType()),
        StructField("freqs_enc", BinaryType()),
        StructField("norms_enc", BinaryType()),
        StructField("imp_freqs", ArrayType(IntegerType())),
        StructField("imp_norms", ArrayType(IntegerType())),
        StructField("pos_enc", BinaryType()),
    ]
)


def assign_doc_ids(
    df: DataFrame, order_cols: List[str], num_partitions: int = 32
) -> DataFrame:
    """Deterministic dense doc_id by global (order_cols) order, without a
    single-partition window (scales to arbitrary row counts).

    Equivalent to Lucene's ingest-order docID assignment
    (index/DocumentsWriterPerThread.java:239) when ingest order is the
    canonical sort order. order_cols must be a unique non-null key.

    Exactly ONE full shuffle: ``repartitionByRange`` + ``sortWithinPartitions``
    gives globally range-partitioned, locally sorted rows. The result is
    persisted BEFORE being consumed so the (randomly sampled) range boundaries
    are pinned — the per-partition counts job and the id-assignment pass then
    see the same partitioning. (At production scale, checkpoint to durable
    storage instead of memory/disk cache; same pinning effect.)

    doc_id = per-partition offset (tiny driver-side prefix sum over partition
    counts) + running row number inside the partition, a narrow JVM
    projection — no window function, no second shuffle, no Python pass.
    """
    parted, offsets, _n = _range_partition_with_offsets(df, order_cols, num_partitions)
    out = parted.withColumn("doc_id", _doc_id_col(offsets))
    out._doc_id_parted = parted  # cache handle; released by build_index(eager=True)
    return out


def _count_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """One (partition id, row count) row per non-empty partition."""
    pid, n = None, 0
    for pdf in batches:
        if len(pdf):
            pid = int(pdf["_pid"].iloc[0])
            n += len(pdf)
    if pid is not None:
        yield pd.DataFrame({"_pid": [pid], "n": [n]})


def _range_partition_with_offsets(df: DataFrame, order_cols: List[str], num_partitions: int):
    """Range-partition + locally sort the corpus by order_cols, persist it to
    pin the sampled boundaries, and return (parted, {partition_id: doc_id
    offset}, total_rows). One full shuffle + one narrow counts pass over the
    pinned partitions (no second shuffle)."""
    from pyspark import StorageLevel

    cols = [F.col(c) for c in order_cols]
    parted = (
        df.repartitionByRange(num_partitions, *cols)
        .sortWithinPartitions(*cols)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = dict(
        parted.select(F.spark_partition_id().alias("_pid"))
        .mapInPandas(_count_partition, schema="_pid int, n long")
        .collect()
    )
    offsets, acc = {}, 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    return parted, offsets, acc


def _doc_id_col(offsets: dict):
    """doc_id of each row of the pinned partitioning, in the JVM: the
    partition's offset plus the row's position in the partition, which
    ``monotonically_increasing_id`` carries in its low 33 bits."""
    base = F.create_map(
        *[F.lit(x).cast("long") for p, o in sorted(offsets.items()) or [(0, 0)]
          for x in (p, o)]
    )
    pos = F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)
    return (base[F.spark_partition_id().cast("long")] + pos).cast("long")


def _slices(values: np.ndarray, bounds: np.ndarray) -> List[np.ndarray]:
    """``values[bounds[i]:bounds[i + 1]]`` views for every i (np.split
    without its per-piece overhead)."""
    b = bounds.tolist()
    return [values[a:z] for a, z in zip(b[:-1], b[1:])]


def _invert_batches(config: IndexConfig, pairs):
    """Invert a stream of (doc_id int64 array, content Series) pairs. Yields
    per batch (doc_ids, lengths, discounted lengths, tf DataFrame or None
    when the batch has no tokens); lengths cover every doc of the batch,
    zero-token docs included.

    This is PerField.invert (IndexingChain.java:1121-1260) re-expressed
    batch-at-a-time: token stream -> positions -> per-doc term freqs + norm
    (norm byte = intToByte4(length), IndexingChain.java:1096-1112)."""
    chain, stopwords = config.chain, config.stopwords
    from .analysis import LANG_CHAINS, _resolve_chain

    if _resolve_chain(chain)[0] in LANG_CHAINS:
        # language chains mark their (reference-default) stopwords with
        # lang.STOP_HOLE so the hole filter below runs stop-BEFORE-stem
        # order exactly: a stem equal to a stopword surface is never
        # re-stopped (see lang.py module docstring)
        from .lang import STOP_HOLE

        stopwords = frozenset(stopwords or ()) | {STOP_HOLE}
    seg_size, with_pos = config.seg_size, config.with_positions
    syn_map = {b: list(extras) for b, extras in (config.synonyms or ())}

    for batch_docs, content in pairs:
            flat, counts = flat_tokenize(content, chain=chain)
            total = int(counts.sum())
            if total == 0:
                yield batch_docs, counts, counts, None
                continue
            row_idx = np.repeat(np.arange(len(batch_docs)), counts)
            starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
            pos = np.arange(total, dtype=np.int64) - np.repeat(starts, counts)
            if stopwords:
                # per-DISTINCT-token membership (factorize dedup): object-safe
                # (np.isin corrupts NUL-padded unicode, e.g. lang.STOP_HOLE)
                # and O(vocab) instead of isin's sort over every token
                codes, uniq = pd.factorize(pd.Series(flat), sort=False)
                bad = np.fromiter((u in stopwords for u in uniq), bool, len(uniq))
                keep = ~bad[codes]
                flat, row_idx, pos = flat[keep], row_idx[keep], pos[keep]
                # per-row effective lengths shrink; holes keep advancing pos
                counts = np.bincount(row_idx, minlength=len(batch_docs)).astype(np.int64)
                total = len(flat)
                if total == 0:
                    yield batch_docs, counts, counts, None
                    continue
            base_counts = counts
            if config.hunspell is not None:
                # HunspellStemFilter right after the stop filter: map each
                # DISTINCT token once (factorize dedup — the stemmer is
                # O(vocab per batch)). longest_only replaces 1:1; dedup
                # mode keeps the first stem in place and injects the rest
                # at the SAME position (posIncr=0, HunspellStemFilter
                # incrementToken:93-101)
                hsp = config.hunspell
                codes_h, uniq_h = pd.factorize(pd.Series(flat), sort=False)
                if hsp.longest_only:
                    mapped = np.array(
                        [hsp.map_token(u) for u in uniq_h], dtype=object
                    )
                    flat = mapped[codes_h]
                else:
                    expansions = [hsp.expand_token(u) for u in uniq_h]
                    heads = np.array(
                        [e[0] if e else u for e, u in zip(expansions, uniq_h)],
                        dtype=object,
                    )
                    extra_n = np.fromiter(
                        (max(len(e) - 1, 0) for e in expansions),
                        np.int64, len(expansions),
                    )
                    flat = heads[codes_h]
                    per_tok = extra_n[codes_h]
                    if per_tok.any():
                        src = np.nonzero(per_tok)[0]
                        add_t = np.array(
                            [w for i in src for w in expansions[codes_h[i]][1:]],
                            dtype=object,
                        )
                        rep = per_tok[src]
                        flat = np.concatenate([flat, add_t])
                        row_idx = np.concatenate(
                            [row_idx, np.repeat(row_idx[src], rep)]
                        )
                        pos = np.concatenate([pos, np.repeat(pos[src], rep)])
                        counts = np.bincount(
                            row_idx, minlength=len(batch_docs)
                        ).astype(np.int64)
                        total = len(flat)
            if config.decompound is not None:
                # CompoundWordTokenFilterBase: each token's dictionary /
                # hyphenation subwords join at the SAME position (posIncr=0
                # overlaps, norm-discounted like synonyms). Decompose once
                # per DISTINCT token (memoized across batches), then expand.
                dec = config.decompound
                codes_d, uniq_d = pd.factorize(pd.Series(flat), sort=False)
                subs = [dec.decompose(u) for u in uniq_d]
                n_subs = np.fromiter((len(s) for s in subs), np.int64, len(subs))
                per_tok = n_subs[codes_d]
                if per_tok.any():
                    src = np.nonzero(per_tok)[0]
                    add_t = np.array(
                        [w for i in src for w in subs[codes_d[i]]], dtype=object
                    )
                    rep = per_tok[src]
                    flat = np.concatenate([flat, add_t])
                    row_idx = np.concatenate([row_idx, np.repeat(row_idx[src], rep)])
                    pos = np.concatenate([pos, np.repeat(pos[src], rep)])
                    counts = np.bincount(
                        row_idx, minlength=len(batch_docs)
                    ).astype(np.int64)
                    total = len(flat)
            if syn_map:
                # SynonymFilter posIncr=0: inject extras at the SAME
                # position; injected tokens are overlaps (count into
                # length/tf, discounted from the norm below)
                mask = np.isin(flat, list(syn_map))
                if mask.any():
                    add_t, add_r, add_p = [], [], []
                    for i in np.nonzero(mask)[0]:
                        for extra in syn_map[flat[i]]:
                            add_t.append(extra)
                            add_r.append(row_idx[i])
                            add_p.append(pos[i])
                    flat = np.concatenate([flat, np.array(add_t, dtype=object)])
                    row_idx = np.concatenate(
                        [row_idx, np.array(add_r, dtype=row_idx.dtype)]
                    )
                    pos = np.concatenate([pos, np.array(add_p, dtype=np.int64)])
                    counts = np.bincount(
                        row_idx, minlength=len(batch_docs)
                    ).astype(np.int64)
                    total = len(flat)
            if config.phonetic is not None:
                # PhoneticFilter runs LAST in the chain: replacements are a
                # 1:1 map over the (possibly already expanded) stream;
                # encoded overlaps join at the source token's position and
                # are norm-discounted (captured base_counts unchanged)
                pho = config.phonetic
                codes_p, uniq_p = pd.factorize(pd.Series(flat), sort=False)
                trans = [pho.transform(u) for u in uniq_p]
                repl = np.array([t[0] for t in trans], dtype=object)
                flat = repl[codes_p]
                n_ext = np.fromiter(
                    (len(t[1]) for t in trans), np.int64, len(trans)
                )
                per_tok = n_ext[codes_p]
                if per_tok.any():
                    src = np.nonzero(per_tok)[0]
                    add_t = np.array(
                        [w for i in src for w in trans[codes_p[i]][1]],
                        dtype=object,
                    )
                    rep = per_tok[src]
                    flat = np.concatenate([flat, add_t])
                    row_idx = np.concatenate(
                        [row_idx, np.repeat(row_idx[src], rep)]
                    )
                    pos = np.concatenate([pos, np.repeat(pos[src], rep)])
                    counts = np.bincount(
                        row_idx, minlength=len(batch_docs)
                    ).astype(np.int64)
                    total = len(flat)
            # one vectorized (row, term) aggregation for the whole batch:
            codes, _ = pd.factorize(pd.Series(flat), sort=False)
            key = row_idx.astype(np.int64) * (codes.max() + 1) + codes
            if (
                syn_map
                or config.decompound is not None
                or config.phonetic is not None
                or config.hunspell is not None
            ):
                # injected tokens break the pre-sorted pos invariant
                order = np.lexsort((pos, key))
            else:
                order = np.argsort(key, kind="stable")  # pos stays ascending
            key_s = key[order]
            bounds = np.concatenate(
                ([0], np.nonzero(np.diff(key_s))[0] + 1, [total])
            )
            first = order[bounds[:-1]]
            freqs = np.diff(bounds).astype(np.int32)
            g_rows = row_idx[order][bounds[:-1]]
            doc_ids = batch_docs[g_rows]
            norms = int_to_byte4(base_counts).astype(np.int32)[g_rows]
            dlens = base_counts.astype(np.int32)[g_rows]
            pos_sorted = pos[order]
            out = {
                "doc_id": doc_ids,
                "segment_id": (doc_ids // seg_size).astype(np.int32),
                "term": flat[first],
                "freq": freqs,
                "norm": norms,
                "dlen": dlens,
                "positions": (
                    _slices(pos_sorted.astype(np.int32), bounds)
                    if with_pos
                    else [None] * len(first)
                ),
            }
            yield batch_docs, counts, base_counts, pd.DataFrame(out)


def _invert_core(config: IndexConfig, pairs) -> Iterator[pd.DataFrame]:
    """The tf DataFrames of :func:`_invert_batches`."""
    for _docs, _lengths, _dlens, tf in _invert_batches(config, pairs):
        if tf is not None:
            yield tf


def _invert_fn(config: IndexConfig, content_col: str):
    """mapInPandas fn over (doc_id, <content_col>) batches -> tf rows."""

    def invert(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def pairs():
            for pdf in batches:
                if len(pdf):
                    yield pdf["doc_id"].to_numpy(dtype=np.int64), pdf[content_col]

        yield from _invert_core(config, pairs())

    return invert


def _assigned(batches: Iterator[pd.DataFrame], content_col: str, offsets: dict):
    """(doc_ids, content) pairs of one pinned range partition (batches carry
    a _pid column): ids run on from the partition's offset."""
    seen = 0
    base = None
    for pdf in batches:
        if len(pdf) == 0:
            continue
        if base is None:
            base = offsets[int(pdf["_pid"].iloc[0])]
        ids = np.arange(base + seen, base + seen + len(pdf), dtype=np.int64)
        seen += len(pdf)
        yield ids, pdf[content_col]


def _assign_invert_fn(config: IndexConfig, content_col: str, offsets: dict):
    """Fused doc_id assignment + invert: one mapInPandas over the pinned
    range-partitioned corpus (with a _pid column), so the corpus crosses the
    JVM<->Arrow boundary once instead of twice."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield from _invert_core(config, _assigned(batches, content_col, offsets))

    return fn


def _segment_writer_fn(config: IndexConfig):
    """applyInPandas fn over one segment's tf rows -> encoded postings blocks.

    The Spark analog of FreqProxTermsWriter.flush + Lucene90PostingsWriter
    (sorted term replay, 128-int blocks, skip/impact metadata per block).

    Source-code corpora are singleton-heavy (most terms have docFreq 1 in a
    segment — the observation behind Lucene's singleton pulsing,
    Lucene90PostingsWriter.java:377-380). Singleton terms are emitted fully
    vectorized with NO encoded bytes: the posting lives in the existing
    (last_doc, imp_freqs[0], imp_norms[0]) columns and decoders fast-path
    count == 1."""
    block_size, with_pos = config.block_size, config.with_positions

    def write_segment(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(columns=[f.name for f in POSTINGS_SCHEMA.fields])
        seg = int(pdf["segment_id"].iloc[0])
        codes, uniques = pd.factorize(pdf["term"], sort=True)
        doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        order = np.lexsort((doc_ids, codes))
        codes_s = codes[order]
        docs_s = doc_ids[order]
        freqs_s = pdf["freq"].to_numpy(dtype=np.int64)[order]
        norms_s = pdf["norm"].to_numpy(dtype=np.int64)[order]
        pos_s = pdf["positions"].to_numpy()[order] if with_pos else None
        bounds = np.concatenate(
            ([0], np.nonzero(np.diff(codes_s))[0] + 1, [len(codes_s)])
        )
        sizes = np.diff(bounds)
        terms_arr = uniques.to_numpy() if hasattr(uniques, "to_numpy") else np.asarray(uniques)

        frames = []
        # ---- vectorized singleton (pulsing) fast path ----
        sing = sizes == 1
        if sing.any():
            i1 = bounds[:-1][sing]
            d1 = docs_s[i1]
            f1 = freqs_s[i1].astype(np.int64)
            n1 = norms_s[i1]
            if with_pos:
                # every singleton's position list (freq positions each) in
                # one vectorized encode
                pos_enc1 = codec.encode_position_lists(np.concatenate(pos_s[i1]), f1)
            else:
                pos_enc1 = None
            frames.append(pd.DataFrame({
                "term": terms_arr[codes_s[i1]],
                "segment_id": np.full(len(i1), seg, dtype=np.int32),
                "block_id": np.zeros(len(i1), dtype=np.int32),
                "base_doc": np.full(len(i1), -1, dtype=np.int64),
                "count": np.ones(len(i1), dtype=np.int32),
                "sum_freq": f1,
                "last_doc": d1,
                "docs_enc": None,
                "freqs_enc": None,
                "norms_enc": None,
                "imp_freqs": [[int(x)] for x in f1],
                "imp_norms": [[int(x)] for x in n1],
                "pos_enc": pos_enc1,
            }))

        rows = []
        norms_u8 = norms_s.astype(np.uint8)
        for gi in np.nonzero(~sing)[0]:
            b0g, b1g = int(bounds[gi]), int(bounds[gi + 1])
            term = terms_arr[codes_s[b0g]]
            for b0 in range(b0g, b1g, block_size):
                b1 = min(b0 + block_size, b1g)
                d = docs_s[b0:b1]
                f = freqs_s[b0:b1]
                n = norms_s[b0:b1]
                base = int(docs_s[b0 - 1]) if b0 > b0g else -1
                imp_f, imp_n = codec.pareto_impacts(f, n)
                if with_pos:
                    pos_enc = codec.encode_positions(np.concatenate(pos_s[b0:b1]), f)
                else:
                    pos_enc = None
                rows.append(
                    (
                        term,
                        seg,
                        (b0 - b0g) // block_size,
                        base,
                        int(b1 - b0),
                        int(f.sum()),
                        int(d[-1]),
                        codec.delta_encode_docs(d, base),
                        codec.pfor_encode(f.astype(np.uint32)),
                        n.astype(np.uint8).tobytes(),
                        imp_f.astype(np.int32).tolist(),
                        imp_n.astype(np.int32).tolist(),
                        pos_enc,
                    )
                )
        if rows:
            frames.append(
                pd.DataFrame(rows, columns=[f.name for f in POSTINGS_SCHEMA.fields])
            )
        if not frames:
            return pd.DataFrame(columns=[f.name for f in POSTINGS_SCHEMA.fields])
        return pd.concat(frames, ignore_index=True)

    return write_segment


DOCLEN_TERM = "\x00doclen"  # term of the fused pass's doc-stat rows

# The fused pass's output: postings blocks plus, per input batch, one
# doc-stat row (term=DOCLEN_TERM, block_id=-1). A doc-stat row holds the
# batch's first doc_id in base_doc, its doc count in count and its token
# total in sum_freq; the arrays hold each doc's length, norm byte and
# overlap count in doc_id order. Block rows leave the arrays null.
_RAW_SCHEMA = StructType(
    POSTINGS_SCHEMA.fields
    + [
        StructField("doc_lengths", ArrayType(IntegerType())),
        StructField("doc_norms", ArrayType(IntegerType())),
        StructField("doc_overlaps", ArrayType(IntegerType())),
    ]
)
_DOC_ARRAYS = ("doc_lengths", "doc_norms", "doc_overlaps")


def _fused_invert_encode_fn(config: IndexConfig, content_col: str, offsets: dict):
    """Fused doc_id assignment + invert + LOCAL segment encode: the whole
    indexing chain runs inside one mapInPandas pass over the pinned
    range-partitioned corpus — the DocumentsWriterPerThread analog
    (index/DocumentsWriterPerThread.java:209-260: each writer thread builds
    whole segments locally; no cross-thread exchange).

    Doc_ids ascend within a partition, so segment_ids (doc_id // seg_size)
    cross boundaries monotonically: tf batches buffer per segment and flush
    through the segment writer as each boundary passes — bounded memory of
    one segment's tf. This removes BOTH the per-(doc,term) tf cache and the
    segment-grouping shuffle of the unfused path; the only rows that cross
    back over Arrow are the encoded block rows (~30x fewer, pre-compressed).
    A segment that straddles a partition boundary is encoded independently
    on each side, producing distinct block rows for the same (term,
    segment_id, block_id) key — the same benign collision the sharded
    checkpoint build documents (checkpoint.py module docstring): every
    decoder treats block rows independently.

    Per-doc stats (length / norm / overlap count) of every doc, zero-token
    docs included, ride along as one doc-stat row per input batch (see
    _RAW_SCHEMA), so the docs table is a JVM explode of this same pass's
    output (:func:`_docs_from_stats`)."""
    write_segment = _segment_writer_fn(config)
    no_docs = dict.fromkeys(_DOC_ARRAYS)

    def doc_stats(docs: np.ndarray, lengths: np.ndarray, dlens: np.ndarray) -> pd.DataFrame:
        return pd.DataFrame({
            "term": [DOCLEN_TERM], "segment_id": [-1], "block_id": [-1],
            "base_doc": [int(docs[0])], "count": [len(docs)],
            "sum_freq": [int(lengths.sum())], "last_doc": [int(docs[-1])],
            "docs_enc": [None], "freqs_enc": [None], "norms_enc": [None],
            "imp_freqs": [None], "imp_norms": [None], "pos_enc": [None],
            "doc_lengths": [lengths.astype(np.int32)],
            "doc_norms": [int_to_byte4(dlens).astype(np.int32)],
            "doc_overlaps": [(lengths - dlens).astype(np.int32)],
        })

    def flush(frames: List[pd.DataFrame]) -> pd.DataFrame:
        pdf = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
        return write_segment(pdf).assign(**no_docs)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur = None
        frames: List[pd.DataFrame] = []
        pairs = _assigned(batches, content_col, offsets)
        for docs, lengths, dlens, tfb in _invert_batches(config, pairs):
            yield doc_stats(docs, lengths, dlens)
            if tfb is None:
                continue
            segs = tfb["segment_id"].to_numpy()
            b = np.concatenate(
                ([0], np.nonzero(np.diff(segs))[0] + 1, [len(segs)])
            )
            for i in range(len(b) - 1):
                seg = int(segs[b[i]])
                part = tfb.iloc[b[i]: b[i + 1]]
                if cur is None:
                    cur = seg
                elif seg != cur:
                    yield flush(frames)
                    frames, cur = [], seg
                frames.append(part)
        if frames:
            yield flush(frames)

    return fn


def _docs_from_stats(doc_rows: DataFrame) -> DataFrame:
    """(doc_id, length, norm, num_overlap) for every doc, exploded in the JVM
    from the fused pass's doc-stat rows (doc_ids run on from base_doc)."""
    return doc_rows.select(
        "base_doc", F.posexplode(F.arrays_zip(*_DOC_ARRAYS)).alias("pos", "s")
    ).select(
        (F.col("base_doc") + F.col("pos")).alias("doc_id"),
        F.col("s.doc_lengths").cast("long").alias("length"),
        F.col("s.doc_norms").cast("int").alias("norm"),
        F.col("s.doc_overlaps").cast("long").alias("num_overlap"),
    )


def term_vectors(
    corpus: DataFrame,
    config: IndexConfig = IndexConfig(),
    content_col: Optional[str] = None,
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Per-document forward index (doc_id, term, freq, positions) — the term
    vectors analog (codecs/lucene90/Lucene90TermVectorsFormat.java maps to a
    long table per SURVEY §2.1): the invert output exposed directly."""
    content_col = content_col or config.field
    df = corpus.withColumn("doc_id", F.col(doc_id_col).cast("long"))
    tf = df.select("doc_id", content_col).mapInPandas(
        _invert_fn(config, content_col), schema=TF_SCHEMA
    )
    return tf.select("doc_id", "term", "freq", "positions")


@dataclass
class Index:
    """A built index: the reader-side view (SURVEY.md §1.1 table mapping)."""

    docs: DataFrame  # doc_id, length, norm, <store_cols>
    terms: DataFrame  # term, doc_freq, total_term_freq, singleton_*
    postings: DataFrame  # POSTINGS_SCHEMA
    stats: CollectionStats
    config: IndexConfig
    tf: Optional[DataFrame] = None  # persisted invert output (released on unpersist)
    # live-docs complement (Lucene90LiveDocsFormat / PendingDeletes analog):
    # a tiny (doc_id) tombstone table. Lucene semantics: deleted docs stop
    # MATCHING immediately but keep contributing to docFreq/totalTermFreq/
    # docCount until their segment is merged away — so scores are unchanged
    # by delete_docs, and expunge_deletes() rebuilds stats.
    deletes: Optional[DataFrame] = None
    # soft deletes (index/SoftDeletesRetentionMergePolicy.java analog): same
    # match-exclusion semantics as hard tombstones, but REVERSIBLE — the
    # docs are retained through merges (merge_segments/expunge_deletes never
    # drop them) until expunge_soft_deletes(), and undelete_all_soft()
    # restores them, like reopening past the soft-deletes field.
    soft_deletes: Optional[DataFrame] = None
    # declared index sort (IndexWriterConfig.setIndexSort analog,
    # index/IndexWriterConfig.java:476): when build_index assigns doc_ids by
    # order_cols rank, doc_id IS the sort rank — queries sorting by this key
    # can early-terminate on the doc_id-sorted postings blocks
    # (Searcher.search_sorted), the TopFieldCollector sorted-segment pruning
    # analog.
    index_sort: Optional[Tuple[str, ...]] = None

    def soft_delete_docs(self, doc_ids) -> "Index":
        """Mark docs soft-deleted (IndexWriter.softUpdateDocument's delete
        side): excluded from matching, stats untouched, reversible."""
        import dataclasses

        spark = self.docs.sparkSession
        if isinstance(doc_ids, DataFrame):
            new = doc_ids.select(F.col("doc_id").cast("long"))
        else:
            new = spark.createDataFrame([(int(d),) for d in doc_ids], "doc_id long")
        if self.soft_deletes is not None:
            new = self.soft_deletes.unionByName(new).distinct()
        return dataclasses.replace(self, soft_deletes=new)

    def undelete_all_soft(self) -> "Index":
        """Restore every soft-deleted doc (the retention story: the docs
        were never physically removed)."""
        import dataclasses

        return dataclasses.replace(self, soft_deletes=None)

    def expunge_soft_deletes(self) -> "Index":
        """Convert soft deletes to hard tombstones and merge them away."""
        import dataclasses

        if self.soft_deletes is None:
            return self
        hard = self.delete_docs(self.soft_deletes)
        hard = dataclasses.replace(hard, soft_deletes=None)
        return hard.expunge_deletes()

    def update_doc_values(self, col: str, updates: DataFrame) -> "Index":
        """DocValuesUpdate analog (index/DocValuesUpdate.java,
        IndexWriter.updateNumericDocValue): overwrite a docs-table column
        for the given (doc_id, <col>) rows WITHOUT touching postings — the
        doc-values generation trick re-expressed as a join + coalesce.
        Affects stored-field reads, FeatureQuery, sort and facet paths."""
        import dataclasses

        if col not in self.docs.columns:
            raise ValueError(f"unknown doc-values column {col!r}")
        upd = updates.select(
            F.col("doc_id").cast("long"),
            F.col(col).alias("__new_val"),
        )
        new_docs = (
            self.docs.join(upd, "doc_id", "left")
            .withColumn(col, F.coalesce(F.col("__new_val"), F.col(col)))
            .drop("__new_val")
        )
        return dataclasses.replace(self, docs=new_docs)

    def delete_docs(self, doc_ids) -> "Index":
        """Return a reader view with the given doc_ids tombstoned
        (IndexWriter.deleteDocuments analog; stats untouched per Lucene)."""
        import dataclasses

        spark = self.docs.sparkSession
        if isinstance(doc_ids, DataFrame):
            new = doc_ids.select(F.col("doc_id").cast("long"))
        else:
            new = spark.createDataFrame(
                [(int(d),) for d in doc_ids], "doc_id long"
            )
        if self.deletes is not None:
            new = self.deletes.unionByName(new).distinct()
        return dataclasses.replace(self, deletes=new)

    def expunge_deletes(self) -> "Index":
        """Physically drop tombstoned docs and recompute stats/terms — the
        merge-away of deletes (SegmentMerger dropping non-live docs)."""
        import dataclasses

        if self.deletes is None:
            return self
        from .merge import merge_segments

        kept_docs = self.docs.join(self.deletes, "doc_id", "left_anti")
        row = kept_docs.agg(
            F.count("*").alias("n"), F.sum("length").alias("sttf")
        ).collect()[0]
        pruned = dataclasses.replace(
            self,
            docs=kept_docs,
            stats=CollectionStats(int(row["n"]), int(row["sttf"] or 0)),
        )
        # re-block postings without the deleted docs (one decode+regroup)
        rebuilt = merge_segments(pruned, target_seg_size=self.config.seg_size,
                                 drop_deletes=True)
        terms = rebuilt.postings.groupBy("term").agg(
            F.sum("count").cast("long").alias("doc_freq"),
            F.sum("sum_freq").alias("total_term_freq"),
            F.min("last_doc").alias("singleton_doc_id"),
            F.max(F.array_max("imp_freqs")).cast("int").alias("singleton_freq"),
            F.max(F.array_max("imp_norms")).cast("int").alias("singleton_norm"),
        )
        return dataclasses.replace(rebuilt, terms=terms, deletes=None)

    def persist(self) -> "Index":
        self.docs.persist()
        self.terms.persist()
        self.postings.persist()
        return self

    def unpersist(self) -> "Index":
        extra = getattr(self.tf, "_doc_id_parted", None)
        for df in (self.docs, self.terms, self.postings, self.tf, extra):
            if df is not None:
                df.unpersist()
        return self


def build_index(
    corpus: DataFrame,
    config: IndexConfig = IndexConfig(),
    content_col: Optional[str] = None,
    doc_id_col: Optional[str] = None,
    order_cols: Optional[List[str]] = None,
    num_partitions: Optional[int] = None,
    auto_seg_size: bool = True,
    eager: bool = False,
) -> Index:
    """Build the full index from a corpus DataFrame.

    Either ``doc_id_col`` names an existing dense unique long column, or
    ``order_cols`` defines the canonical ingest order for doc_id assignment.

    With ``eager=True`` the postings/terms/docs tables are materialized +
    persisted before returning, and the intermediate tf cache is released —
    use when the index will be queried repeatedly (the common case).
    """
    spark = corpus.sparkSession
    content_col = content_col or config.field
    if num_partitions is None:
        num_partitions = max(spark.sparkContext.defaultParallelism, 4)

    # phase-timing hook for scaling diagnostics (Amdahl audit: which build
    # phase stops scaling with cores); no-op unless the env flag is set
    _timing = os.environ.get("SPARK_GRAFT_BUILD_TIMING") == "1"
    _marks: List[Tuple[str, float]] = []
    _t_prev = time.time()

    def _mark(label: str) -> None:
        nonlocal _t_prev
        if _timing:
            now = time.time()
            _marks.append((label, round(now - _t_prev, 3)))
            _t_prev = now

    parted = None
    if doc_id_col is not None:
        df = corpus.withColumn("doc_id", F.col(doc_id_col).cast("long"))
        n = corpus.count()
    else:
        assert order_cols, "need doc_id_col or order_cols"
        parted, offsets, n = _range_partition_with_offsets(
            corpus, order_cols, num_partitions
        )
        df = None  # only materialized if store_cols need it (below)
    _mark("doc_id_assign")

    if auto_seg_size:
        # enough segments to keep every core busy in the segment writer
        # (the DWPT-count analog); never larger than the configured cap
        eff = min(config.seg_size, max(1024, n // (num_partitions * 2) + 1))
        if eff != config.seg_size:
            import dataclasses

            config = dataclasses.replace(config, seg_size=eff)

    from pyspark import StorageLevel

    raw = tf = None
    if parted is not None:
        # fused doc_id assignment + invert + LOCAL segment encode (the DWPT
        # analog — see _fused_invert_encode_fn): the corpus crosses Arrow
        # once and nothing shuffles between invert and block encode; only
        # the ~30x-smaller encoded block rows are cached. Per-doc stats
        # ride along as doc-stat rows (block_id = -1).
        raw = parted.withColumn("_pid", F.spark_partition_id()).mapInPandas(
            _fused_invert_encode_fn(config, content_col, offsets),
            schema=_RAW_SCHEMA,
        )
        # an eager build pins the fused output on local disk, as it does its
        # shuffle output: the term exchange, the docs explode and the token
        # totals all read that one copy, and unlike a cache a checkpoint adds
        # no materialization job of its own to the plans that read it. A
        # lazy build keeps it as a cache that Index.unpersist releases.
        if eager:
            raw = raw.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
        else:
            raw = raw.persist(StorageLevel.MEMORY_AND_DISK)
        postings = raw.filter(F.col("block_id") >= 0).drop(*_DOC_ARRAYS)
        doc_rows = raw.filter(F.col("block_id") == -1)
        # Σ per-batch token totals == Σ doc length == Σ tf freq
        totals = doc_rows.select(F.col("sum_freq").alias("v"))
    else:
        # arbitrary pre-assigned doc_ids: partitions are not doc-contiguous,
        # so segments group across partitions via ONE wide shuffle. The tf
        # cache is the analog of Lucene's in-memory DWPT postings buffer
        # before flush (DocumentsWriterPerThread.java:209-260): invert runs
        # exactly once, feeding both the segment writer and the doc lengths.
        tf = df.select("doc_id", content_col).mapInPandas(
            _invert_fn(config, content_col), schema=TF_SCHEMA
        )
        tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
        # Range-partition the exchange instead of the default hash
        # clustering: range placement balances partitions by ROWS (whole
        # segments, contiguous ids), where hash placement throws segment ids
        # into buckets balls-in-bins style and the straggler bucket sets the
        # stage's wall time. RangePartitioning satisfies the groupBy's
        # clustering requirement, so no second exchange appears.
        postings = (
            tf.repartitionByRange(num_partitions, "segment_id")
            .groupBy("segment_id")
            .applyInPandas(_segment_writer_fn(config), schema=POSTINGS_SCHEMA)
        )
        totals = tf.agg(F.sum("freq").alias("v"))
        if eager:
            # materialize the segment writer's output before the range
            # exchange samples it, or the sampling job re-executes the whole
            # block-encode pass (measured 2x the build's dominant phase)
            raw = postings.persist(StorageLevel.MEMORY_AND_DISK)
            raw.count()
            postings = raw
            _mark("invert_segment_write")
    if eager:
        # term-major layout for the query path: range-partitioned + sorted by
        # term, so per-batch min/max stats prune term lookups against the
        # in-memory cache (the role of the term dictionary's block index;
        # write_index writes this order as is and Parquet row-group stats
        # give the same effect).
        postings = (
            postings.repartitionByRange(num_partitions, "term")
            .sortWithinPartitions("term", "segment_id", "block_id")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    # term stats derived from the (much smaller) postings blocks — no second
    # pass over tf. doc_freq = Σ block counts; total_term_freq = Σ block
    # sum_freq. singleton_* columns (pulsing fast path) are only consulted
    # when doc_freq == 1, where the term has exactly one block row whose
    # impacts hold the exact (freq, norm) pair. On term-major postings the
    # grouping reuses their range partitioning (no exchange).
    terms = postings.groupBy("term").agg(
        F.sum("count").cast("long").alias("doc_freq"),
        F.sum("sum_freq").alias("total_term_freq"),
        F.min("last_doc").alias("singleton_doc_id"),
        F.max(F.array_max("imp_freqs")).cast("int").alias("singleton_freq"),
        F.max(F.array_max("imp_norms")).cast("int").alias("singleton_norm"),
    )

    # docs / norms. length = Σ freq (FieldInvertState.length semantics:
    # overlaps count); the norm byte was computed at invert from the
    # DISCOUNTED length (length - numOverlap).
    if parted is not None:
        # every doc (zero-token docs included) from the fused pass's
        # doc-stat rows; stored columns join on from the pinned
        # partitioning, where doc_id is a JVM projection
        docs = _docs_from_stats(doc_rows)
        if config.store_cols:
            store = parted.select(_doc_id_col(offsets).alias("doc_id"), *config.store_cols)
            docs = store.join(docs, "doc_id")
    else:
        # a tf aggregate; docs with zero tokens keep norm 0 via the left join
        lengths = tf.groupBy("doc_id").agg(
            F.sum("freq").alias("length"),
            F.max("norm").alias("_tf_norm"),
            F.max("dlen").alias("_tf_dlen"),
        )
        docs = df.select("doc_id", *config.store_cols).join(lengths, "doc_id", "left")
        docs = (
            docs.fillna({"length": 0})
            .withColumn("norm", F.coalesce(F.col("_tf_norm"), F.lit(0)).cast("int"))
            .withColumn(
                "num_overlap",
                (F.col("length") - F.coalesce(F.col("_tf_dlen"), F.lit(0))).cast("long"),
            )
            .drop("_tf_norm", "_tf_dlen")
        )

    if eager:
        terms = terms.persist(StorageLevel.MEMORY_AND_DISK)
        docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
        sttf = _fill_caches(totals, terms, docs)
        _mark("term_major_terms_docs")
    else:
        sttf = int(totals.agg(F.sum("v")).collect()[0][0] or 0)
    stats = CollectionStats(doc_count=int(n), sum_total_term_freq=sttf)
    cached = raw if parted is not None else tf
    if parted is not None and cached is not None:
        cached._doc_id_parted = parted  # released via Index.unpersist / eager
    idx = Index(
        docs=docs, terms=terms, postings=postings, stats=stats, config=config,
        tf=None if eager else cached,
        index_sort=tuple(order_cols) if order_cols else None,
    )
    if eager:
        for handle in (raw, tf):  # fused: raw; pre-assigned ids: tf + blocks
            if handle is not None:
                handle.unpersist()
        if parted is not None:
            parted.unpersist()
    if _timing:
        print(json.dumps({"build_phases": dict(_marks)}), flush=True)
    return idx


def _fill_caches(totals: DataFrame, *cached: DataFrame) -> int:
    """Fill the caches of the persisted frames ``cached`` and return the sum
    of ``totals``' one column, all in ONE action: adaptive execution
    materializes each cached relation the plan scans as its own stage
    (concurrently where they are independent), and the frames' arms of the
    union return no rows."""
    none = F.spark_partition_id() < 0  # never true, and not constant-folded
    probe = totals.select(F.col(totals.columns[0]).cast("long").alias("v"))
    for df in cached:
        probe = probe.unionByName(
            df.filter(none).select(F.lit(None).cast("long").alias("v"))
        )
    return int(sum(r["v"] or 0 for r in probe.collect()))


def config_to_dict(config: IndexConfig) -> dict:
    """JSON-safe IndexConfig serialization (shared by the batch manifest
    and the streaming sidecar)."""
    return {
        "chain": config.chain,
        "seg_size": config.seg_size,
        "block_size": config.block_size,
        "with_positions": config.with_positions,
        "k1": config.k1,
        "b": config.b,
        "store_cols": list(config.store_cols),
        "stopwords": sorted(config.stopwords),
        "synonyms": [[b, list(e)] for b, e in config.synonyms],
        "decompound": (
            config.decompound.to_json() if config.decompound is not None else None
        ),
        "phonetic": (
            config.phonetic.to_json() if config.phonetic is not None else None
        ),
        "hunspell": (
            config.hunspell.to_json() if config.hunspell is not None else None
        ),
    }


def config_from_dict(mc: dict) -> IndexConfig:
    mc = dict(mc)
    mc["store_cols"] = tuple(mc.get("store_cols") or ())
    mc["stopwords"] = frozenset(mc.get("stopwords") or ())
    mc["synonyms"] = tuple((b, tuple(e)) for b, e in (mc.get("synonyms") or ()))
    from .compound import decompounder_from_json
    from .phonetic import phonetic_from_json

    mc["decompound"] = decompounder_from_json(mc.get("decompound"))
    mc["phonetic"] = phonetic_from_json(mc.get("phonetic"))
    from .hunspell import hunspell_from_json

    mc["hunspell"] = hunspell_from_json(mc.get("hunspell"))
    return IndexConfig(**mc)


def write_index(index: Index, path: str) -> dict:
    """Persist index tables as Parquet + manifest (commit point: the analog of
    SegmentInfos/segments_N — SURVEY.md §2.1). Returns manifest dict.

    Postings are written sorted by (term, segment_id, block_id) within their
    partitions so Parquet row-group stats prune term seeks. There is no
    exchange: the term-major postings of an eager build already have that
    order, so the sort plans away and they are written as they are cached."""
    t0 = time.time()
    (
        index.postings.sortWithinPartitions("term", "segment_id", "block_id")
        .write.mode("overwrite")
        .parquet(os.path.join(path, "postings"))
    )
    index.terms.write.mode("overwrite").parquet(os.path.join(path, "terms"))
    index.docs.write.mode("overwrite").parquet(os.path.join(path, "docs"))
    # live-docs state is part of the commit point (Lucene90LiveDocsFormat
    # writes per-generation .liv files; soft deletes persist as doc values)
    for name, tomb in (("deletes", index.deletes),
                       ("soft_deletes", index.soft_deletes)):
        if tomb is not None:
            tomb.write.mode("overwrite").parquet(os.path.join(path, name))
    manifest = {
        "generation": int(time.time()),
        "has_deletes": index.deletes is not None,
        "has_soft_deletes": index.soft_deletes is not None,
        "doc_count": index.stats.doc_count,
        "sum_total_term_freq": index.stats.sum_total_term_freq,
        "config": config_to_dict(index.config),
        "index_sort": list(index.index_sort) if index.index_sort else None,
        "build_wall_sec": round(time.time() - t0, 3),
    }
    with open(os.path.join(path, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=2)
    return manifest


def read_index(spark: SparkSession, path: str) -> Index:
    """Open a written index (DirectoryReader.open analog)."""
    with open(os.path.join(path, "manifest.json")) as fh:
        manifest = json.load(fh)
    cfg = config_from_dict(manifest["config"])
    return Index(
        docs=spark.read.parquet(os.path.join(path, "docs")),
        terms=spark.read.parquet(os.path.join(path, "terms")),
        postings=spark.read.parquet(os.path.join(path, "postings")),
        stats=CollectionStats(
            doc_count=manifest["doc_count"],
            sum_total_term_freq=manifest["sum_total_term_freq"],
        ),
        config=cfg,
        deletes=(
            spark.read.parquet(os.path.join(path, "deletes"))
            if manifest.get("has_deletes")
            else None
        ),
        soft_deletes=(
            spark.read.parquet(os.path.join(path, "soft_deletes"))
            if manifest.get("has_soft_deletes")
            else None
        ),
        index_sort=(
            tuple(manifest["index_sort"]) if manifest.get("index_sort") else None
        ),
    )
