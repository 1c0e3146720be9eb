"""Posting-list block codec: delta + FOR bit-packing, PFOR with patched
exceptions, vbyte position streams — all numpy-vectorized.

This is our own binary layout, Lucene-inspired (logical equivalence with the
reference's 128-int block scheme, not byte equivalence):

- docs:  strictly-increasing docIDs per (term, segment) are delta-encoded
  (first delta is vs. ``base_doc``) and FOR bit-packed in blocks of 128
  (reference: codecs/lucene90/ForUtil.java:32-33 BLOCK_SIZE,
  ForDeltaUtil.java:54-86 — including the all-deltas-equal "0 bits" dense
  case collapsing to a single width byte).
- freqs: PFOR — up to 7 outliers are patched out so the body packs at a lower
  bit width (reference: codecs/lucene90/PForUtil.java:45-123).
- positions: per-doc delta vbyte stream, lengths implied by freqs
  (reference: codecs/lucene90/Lucene90PostingsWriter.java .pos stream).

Layout (little-endian):
  FOR  block: [width:u8][packed low bits]
  PFOR block: [width:u8][n_exc:u8][packed low bits][(idx:u8, high:u32)*n_exc]
  vbyte: standard 7-bit continuation
"""

from __future__ import annotations

from typing import List, NamedTuple, Optional, Tuple

import numpy as np

BLOCK_SIZE = 128  # ForUtil.java:32-33
MAX_EXCEPTIONS = 7  # PForUtil.java:45-50


def _bit_width(max_val: int) -> int:
    return int(max_val).bit_length()


def pack_bits(values: np.ndarray, width: int) -> bytes:
    """FOR-pack uint32 values at ``width`` bits each (little-endian bit order)."""
    if width == 0:
        return b""
    v = values.astype(np.uint32)
    bits = (v[:, None] >> np.arange(width, dtype=np.uint32)) & 1
    return np.packbits(bits.astype(np.uint8).ravel(), bitorder="little").tobytes()


def unpack_bits(data: bytes, count: int, width: int) -> np.ndarray:
    """Inverse of :func:`pack_bits` -> uint32[count]."""
    if width == 0:
        return np.zeros(count, dtype=np.uint32)
    bits = np.unpackbits(
        np.frombuffer(data, dtype=np.uint8), count=count * width, bitorder="little"
    ).reshape(count, width).astype(np.uint32)
    return (bits << np.arange(width, dtype=np.uint32)).sum(axis=1, dtype=np.uint32)


def for_encode(values: np.ndarray) -> bytes:
    """[width:u8][packed]; width 0 => all values are 0 (used by the delta
    encoder for all-deltas-1 dense runs after the -1 bias)."""
    values = np.asarray(values, dtype=np.uint32)
    width = _bit_width(int(values.max())) if len(values) else 0
    return bytes([width]) + pack_bits(values, width)


def for_decode(data: bytes, count: int) -> np.ndarray:
    width = data[0]
    return unpack_bits(data[1:], count, width)


_POW2 = (np.uint64(1) << np.arange(33, dtype=np.uint64))  # 2^0 .. 2^32


def bit_widths(values: np.ndarray) -> np.ndarray:
    """Vectorized per-value bit_length for uint32 arrays: the number of
    powers of two <= v equals floor(log2 v) + 1 (and 0 for v = 0)."""
    return np.searchsorted(_POW2, values.astype(np.uint64), side="right")


def pfor_encode(values: np.ndarray) -> bytes:
    """PFOR: choose the smallest body width such that at most 7 values
    exceed it; patch the high bits of those as (index, high) exceptions."""
    values = np.asarray(values, dtype=np.uint32)
    if len(values) == 0:
        return bytes([0, 0])
    widths = bit_widths(values)
    # lowest width with <= MAX_EXCEPTIONS values strictly above it:
    # the (MAX_EXCEPTIONS+1)-th largest width (0 if few values)
    if len(widths) > MAX_EXCEPTIONS:
        body_w = int(np.partition(widths, -(MAX_EXCEPTIONS + 1))[-(MAX_EXCEPTIONS + 1)])
    else:
        body_w = 0
    exc_idx = np.nonzero(widths > body_w)[0]
    body = values.copy()
    highs = (values[exc_idx] >> body_w).astype(np.uint32)
    mask = np.uint32((1 << body_w) - 1) if body_w else np.uint32(0)
    body[exc_idx] = values[exc_idx] & mask
    out = bytearray([body_w, len(exc_idx)])
    out += pack_bits(body, body_w)
    for i, h in zip(exc_idx, highs):
        out += bytes([int(i)]) + int(h).to_bytes(4, "little")
    return bytes(out)


def pfor_decode(data: bytes, count: int) -> np.ndarray:
    body_w, n_exc = data[0], data[1]
    body_bytes = (count * body_w + 7) // 8
    vals = unpack_bits(data[2 : 2 + body_bytes], count, body_w)
    off = 2 + body_bytes
    for _ in range(n_exc):
        idx = data[off]
        high = int.from_bytes(data[off + 1 : off + 5], "little")
        vals[idx] |= np.uint32(high << body_w)
        off += 5
    return vals


def delta_encode_docs(doc_ids: np.ndarray, base_doc: int) -> bytes:
    """Strictly-increasing doc_ids -> FOR-packed (delta - 1) values.

    The -1 bias makes dense all-consecutive runs pack at width 0
    (ForDeltaUtil.java:55-56 analog: a dense block costs one byte)."""
    deltas = np.diff(np.concatenate(([base_doc], doc_ids.astype(np.int64))))
    if np.any(deltas <= 0):
        raise ValueError("doc_ids must be strictly increasing past base_doc")
    if np.any(deltas > 1 << 32):
        raise ValueError("doc_id gap does not fit a uint32 delta")
    return for_encode((deltas - 1).astype(np.uint32))


def delta_decode_docs(data: bytes, count: int, base_doc: int) -> np.ndarray:
    deltas = for_decode(data, count).astype(np.int64) + 1
    return base_doc + np.cumsum(deltas)


_VBYTE_STEPS = np.uint64(1) << (7 * np.arange(1, 10, dtype=np.uint64))  # 2^7 .. 2^63


def _vbyte_pack(v: np.ndarray) -> Tuple[np.ndarray, np.ndarray]:
    """(vbyte stream as uint8, bytes per value) for uint64 values. A value
    takes one byte plus one per 7-bit step it reaches (1..10 bytes)."""
    n_bytes = np.ones(len(v), dtype=np.int64)
    for step in _VBYTE_STEPS:
        n_bytes += v >= step
    ends = np.cumsum(n_bytes)
    out = np.empty(int(ends[-1]) if len(v) else 0, dtype=np.uint8)
    pos = ends - n_bytes
    # loop over group index (<= 10 iters), vectorized inside
    remaining = v.copy()
    for g in range(int(n_bytes.max()) if len(v) else 0):
        active = n_bytes > g
        byte = (remaining[active] & 0x7F).astype(np.uint8)
        cont = (g + 1) < n_bytes[active]
        out[pos[active] + g] = byte | (cont.astype(np.uint8) << 7)
        remaining[active] >>= np.uint64(7)
    return out, n_bytes


def vbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized vbyte (7-bit groups, high bit = continuation)."""
    return _vbyte_pack(np.asarray(values, dtype=np.uint64))[0].tobytes()


def vbyte_encode_lists(values: np.ndarray, lengths: np.ndarray) -> List[bytes]:
    """``[vbyte_encode(x) for x in lists]`` for the lists laid end to end in
    ``values`` (list i has ``lengths[i]`` values), encoded in one pass."""
    out, n_bytes = _vbyte_pack(np.asarray(values, dtype=np.uint64))
    ends = np.concatenate(([0], np.cumsum(n_bytes)))[np.cumsum(lengths)]
    buf = out.tobytes()
    return [buf[a:b] for a, b in zip(np.concatenate(([0], ends[:-1])).tolist(), ends.tolist())]


def vbyte_decode(data: bytes, count: int) -> np.ndarray:
    buf = np.frombuffer(data, dtype=np.uint8)
    is_cont = (buf & 0x80) != 0
    # token start positions: 0 and every byte following a non-continuation byte
    ends = np.nonzero(~is_cont)[0]
    if count and (len(ends) < count):
        raise ValueError("truncated vbyte stream")
    starts = np.concatenate(([0], ends[:-1] + 1))[:count]
    out = np.zeros(count, dtype=np.uint64)
    lengths = ends[:count] - starts + 1
    for g in range(int(lengths.max()) if count else 0):
        active = lengths > g
        out[active] |= (buf[starts[active] + g].astype(np.uint64) & 0x7F) << np.uint64(7 * g)
    return out


def _position_deltas(positions_concat: np.ndarray, lengths) -> np.ndarray:
    """Delta-within-list values of position lists laid end to end (list i
    has ``lengths[i]`` positions); each list's first position is absolute."""
    pos = np.asarray(positions_concat, dtype=np.int64)
    lengths = np.asarray(lengths, dtype=np.int64)
    deltas = np.diff(pos, prepend=0)
    starts = (np.cumsum(lengths) - lengths)[lengths > 0]
    deltas[starts] = pos[starts]
    return deltas.astype(np.uint64)


def encode_positions(positions_concat: np.ndarray, freqs: np.ndarray) -> bytes:
    """Per-doc position lists (concatenated, doc boundaries at cumsum(freqs))
    -> delta-within-doc vbyte stream."""
    return vbyte_encode(_position_deltas(positions_concat, freqs))


def encode_position_lists(positions_concat: np.ndarray, lengths: np.ndarray) -> List[bytes]:
    """One :func:`encode_positions` stream per single-doc position list
    (lists laid end to end, list i has ``lengths[i]`` positions), encoded
    in one vectorized pass."""
    return vbyte_encode_lists(_position_deltas(positions_concat, lengths), lengths)


def decode_positions(data: bytes, freqs: np.ndarray) -> np.ndarray:
    freqs = np.asarray(freqs, dtype=np.int64)
    total = int(np.sum(freqs))
    if total == 0:
        return np.array([], dtype=np.int64)
    deltas = vbyte_decode(data, total).astype(np.int64)
    csum = np.cumsum(deltas)
    starts = np.concatenate(([0], np.cumsum(freqs)[:-1]))
    # subtract the running total at each doc start to re-localize the cumsum
    doc_base = np.where(starts > 0, csum[np.maximum(starts - 1, 0)], 0)
    return csum - np.repeat(doc_base, freqs)


def pareto_impacts(freqs: np.ndarray, norms: np.ndarray) -> Tuple[np.ndarray, np.ndarray]:
    """Competitive (freq, norm) pairs: keep the Pareto frontier of
    max-freq-per-norm, ascending in both (CompetitiveImpactAccumulator.java:96-118).

    A pair dominates another if freq >= and norm <= . Returns (freqs, norms)
    sorted by freq ascending."""
    freqs = np.asarray(freqs, dtype=np.int64)
    norms = np.asarray(norms, dtype=np.int64)
    # best (max) freq per distinct norm
    order = np.lexsort((-freqs, norms))  # norm asc, freq desc
    n_sorted, f_sorted = norms[order], freqs[order]
    first = np.concatenate(([True], n_sorted[1:] != n_sorted[:-1]))
    n_u, f_u = n_sorted[first], f_sorted[first]  # norm asc, best freq
    # walk norm ascending; keep pair only if freq strictly above running max
    keep = np.zeros(len(n_u), dtype=bool)
    run = -1
    for i in range(len(n_u)):
        if f_u[i] > run:
            keep[i] = True
            run = f_u[i]
    return f_u[keep], n_u[keep]


def decode_block_row(row):
    """(docs, freqs, norms) int64 arrays for one postings-block row (a
    namedtuple/row with count, base_doc, last_doc, docs_enc, freqs_enc,
    norms_enc, imp_freqs, imp_norms fields).

    count == 1 rows carry their single posting in plain columns (singleton
    pulsing — Lucene90PostingsFormat.java:141-143 analog) and need no byte
    decode."""
    n = int(row.count)
    if n == 1:
        return (
            np.array([row.last_doc], dtype=np.int64),
            np.array([row.imp_freqs[0]], dtype=np.int64),
            np.array([row.imp_norms[0]], dtype=np.int64),
        )
    return (
        delta_decode_docs(bytes(row.docs_enc), n, int(row.base_doc)),
        pfor_decode(bytes(row.freqs_enc), n).astype(np.int64),
        np.frombuffer(bytes(row.norms_enc), dtype=np.uint8).astype(np.int64),
    )


class Decoded(NamedTuple):
    """Postings of a batch of block rows, laid end to end in block-row order
    then posting order (see :func:`decode_blocks`)."""

    row: np.ndarray  # block row of each posting
    docs: np.ndarray
    freqs: np.ndarray
    norms: np.ndarray
    positions: Optional[np.ndarray] = None  # every posting's positions, flat
    pos_starts: Optional[np.ndarray] = None  # where each posting's start


def decode_blocks(pdf, positions: bool = False) -> Decoded:
    """Decode a pandas batch of postings block rows into flat int64 arrays:
    the batch-at-a-time form of :func:`decode_block_row`.

    Singleton rows (count == 1, the bulk of a code corpus's rows) are
    decoded as array ops on their plain columns; only rows with more
    postings pay a per-row byte decode. With ``positions`` every row's
    vbyte stream is decoded in one pass: the streams hold sum(freqs) values
    each, so laid end to end they are one stream over all postings."""
    counts = pdf["count"].to_numpy(dtype=np.int64)
    ends = np.cumsum(counts)
    total = int(ends[-1]) if len(counts) else 0
    docs, freqs, norms = np.empty((3, total), dtype=np.int64)
    one = counts == 1
    at = ends[one] - 1
    docs[at] = pdf["last_doc"].to_numpy(dtype=np.int64)[one]
    freqs[at] = [f[0] for f in pdf["imp_freqs"].to_numpy()[one]]
    norms[at] = [n[0] for n in pdf["imp_norms"].to_numpy()[one]]
    multi = np.nonzero(~one)[0]
    for i, r in zip(multi.tolist(), pdf.iloc[multi].itertuples(index=False)):
        at = slice(int(ends[i] - counts[i]), int(ends[i]))
        docs[at], freqs[at], norms[at] = decode_block_row(r)
    row = np.repeat(np.arange(len(counts)), counts)
    if not positions:
        return Decoded(row, docs, freqs, norms)
    pos = decode_positions(b"".join(pdf["pos_enc"].tolist()), freqs)
    return Decoded(row, docs, freqs, norms, pos, np.cumsum(freqs) - freqs)
