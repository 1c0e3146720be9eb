"""The batch block decoder (codec.decode_blocks) and the per-term scoring
helper (bm25.score_postings) against their per-row references:
decode_block_row + decode_positions, and one scorer.score call per row."""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from lucene_spark import codec
from lucene_spark.bm25 import CollectionStats, score_postings, term_scorer

COLUMNS = [
    "term", "segment_id", "block_id", "base_doc", "count", "sum_freq",
    "last_doc", "docs_enc", "freqs_enc", "norms_enc", "imp_freqs",
    "imp_norms", "pos_enc",
]


def _block_row(term, base, docs, freqs, norms, positions):
    """One postings block row as the segment writer lays it out (count == 1
    rows pulse their posting into last_doc / imp_freqs / imp_norms)."""
    pos_enc = codec.encode_positions(np.concatenate(positions), freqs)
    if len(docs) == 1:
        return (term, 0, 0, -1, 1, int(freqs[0]), int(docs[0]), None, None, None,
                np.array([freqs[0]], dtype=np.int32),
                np.array([norms[0]], dtype=np.int32), pos_enc)
    imp_f, imp_n = codec.pareto_impacts(freqs, norms)
    return (term, 0, 0, base, len(docs), int(freqs.sum()), int(docs[-1]),
            codec.delta_encode_docs(docs, base),
            codec.pfor_encode(freqs.astype(np.uint32)),
            norms.astype(np.uint8).tobytes(),
            imp_f.astype(np.int32), imp_n.astype(np.int32), pos_enc)


@st.composite
def blocks(draw, max_rows=12, max_count=codec.BLOCK_SIZE):
    rows = []
    for i in range(draw(st.integers(0, max_rows))):
        n = draw(st.sampled_from([1, 1, 1, 2, max_count]) | st.integers(1, max_count))
        seed = draw(st.integers(0, 2**31))
        rng = np.random.default_rng(seed)
        base = int(rng.integers(-1, 1000))
        docs = base + np.cumsum(rng.integers(1, 50, n))
        freqs = rng.integers(1, 6, n) * np.where(rng.random(n) < 0.05, 1000, 1)
        norms = rng.integers(0, 256, n)
        positions = [np.sort(rng.choice(5000, f, replace=False)) if f < 5000
                     else np.arange(f) for f in freqs]
        rows.append(_block_row(f"t{i % 3}", base, docs.astype(np.int64),
                               freqs.astype(np.int64), norms.astype(np.int64),
                               positions))
    return pd.DataFrame(rows, columns=COLUMNS)


def _reference(pdf):
    out = {"row": [], "docs": [], "freqs": [], "norms": [], "positions": []}
    for i, r in enumerate(pdf.itertuples(index=False)):
        docs, freqs, norms = codec.decode_block_row(r)
        pos = codec.decode_positions(bytes(r.pos_enc), freqs)
        out["row"].append(np.full(len(docs), i))
        out["docs"].append(docs)
        out["freqs"].append(freqs)
        out["norms"].append(norms)
        out["positions"] += np.split(pos, np.cumsum(freqs)[:-1])
    return out


def _check(pdf):
    ref = _reference(pdf)
    d = codec.decode_blocks(pdf, positions=True)
    for name in ("row", "docs", "freqs", "norms"):
        want = np.concatenate(ref[name]) if ref[name] else np.zeros(0, np.int64)
        got = getattr(d, name)
        assert got.dtype == np.int64, name
        assert np.array_equal(got, want), name
    got_pos = np.split(d.positions, d.pos_starts[1:]) if len(d.docs) else []
    assert len(got_pos) == len(ref["positions"])
    for g, w in zip(got_pos, ref["positions"]):
        assert np.array_equal(g, w)
    # the freqs-only decode gives the same postings and no positions
    plain = codec.decode_blocks(pdf)
    assert plain.positions is None and plain.pos_starts is None
    assert np.array_equal(plain.docs, d.docs) and np.array_equal(plain.norms, d.norms)


@settings(max_examples=200, deadline=None)
@given(blocks())
def test_decode_blocks_equals_per_row_decode(pdf):
    _check(pdf)


@settings(max_examples=50, deadline=None)
@given(blocks(max_count=1))
def test_decode_blocks_all_singletons(pdf):
    _check(pdf)


def test_decode_blocks_empty_batch():
    d = codec.decode_blocks(pd.DataFrame(columns=COLUMNS), positions=True)
    assert all(len(a) == 0 for a in d)


def test_decode_blocks_full_and_mixed_blocks():
    # a full 128-posting block, a singleton, and a second full block of the
    # same term that continues from the first one's last doc
    rng = np.random.default_rng(7)
    n = codec.BLOCK_SIZE
    f = rng.integers(1, 4, n)
    rows = [
        _block_row("a", -1, np.arange(n, dtype=np.int64), np.ones(n, np.int64),
                   rng.integers(0, 256, n), [np.array([p]) for p in range(n)]),
        _block_row("b", -1, np.array([5]), np.array([3]), np.array([9]),
                   [np.array([0, 4, 9])]),
        _block_row("a", n - 1, np.arange(n, 2 * n, dtype=np.int64) * 3, f,
                   rng.integers(0, 256, n), [np.arange(k) * 2 for k in f]),
    ]
    _check(pd.DataFrame(rows, columns=COLUMNS))


@settings(max_examples=100, deadline=None)
@given(blocks(), st.sampled_from([np.float32, np.float64]))
def test_score_postings_bit_identical_per_row(pdf, dtype):
    stats = CollectionStats(doc_count=5000, sum_total_term_freq=90_000)
    scorers = {
        t: term_scorer(boost, df, stats, dtype=dtype)
        for t, boost, df in (("t0", 1.0, 3), ("t1", 2.5, 700), ("t2", 0.7, 40))
    }
    d = codec.decode_blocks(pdf)
    got = score_postings(pdf["term"], d, scorers)
    want = [
        scorers[r.term].score(*codec.decode_block_row(r)[1:]).astype(np.float64)
        for r in pdf.itertuples(index=False)
    ]
    want = np.concatenate(want) if want else np.zeros(0)
    assert got.dtype == np.float64
    assert got.tobytes() == want.tobytes()
    # a term without a scorer is a constant-score clause
    ones = score_postings(pdf["term"], d, {t: s for t, s in scorers.items() if t != "t1"})
    t1 = pdf["term"].to_numpy()[d.row] == "t1"
    assert np.all(ones[t1] == 1.0)
    assert ones[~t1].tobytes() == want[~t1].tobytes()
