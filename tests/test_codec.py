"""Block codec round-trip property tests (reference test style:
test-framework/.../index/BasePostingsFormatTestCase.java /
RandomPostingsTester.java:824 — random postings, encode, decode, compare;
FIXTURES.md §5 shapes)."""

import numpy as np
import pytest

from lucene_spark.codec import (
    BLOCK_SIZE,
    decode_positions,
    delta_decode_docs,
    delta_encode_docs,
    encode_position_lists,
    encode_positions,
    for_decode,
    for_encode,
    pareto_impacts,
    pfor_decode,
    pfor_encode,
    vbyte_decode,
    vbyte_encode,
    vbyte_encode_lists,
)

RNG = np.random.default_rng(42)


@pytest.mark.parametrize("n", [1, 2, 127, 128])
@pytest.mark.parametrize("max_val", [0, 1, 7, 255, 2**20])
def test_for_round_trip(n, max_val):
    vals = RNG.integers(0, max_val + 1, size=n).astype(np.uint32)
    assert np.array_equal(for_decode(for_encode(vals), n), vals)


def test_for_dense_one_byte():
    # all-zero block (all-deltas-1 dense case) collapses to width byte only
    assert for_encode(np.zeros(BLOCK_SIZE, dtype=np.uint32)) == b"\x00"


@pytest.mark.parametrize("n", [1, 5, 128])
def test_pfor_round_trip_with_outliers(n):
    vals = RNG.integers(1, 4, size=n).astype(np.uint32)
    # up to 7 outliers patched out (PForUtil.java:45-79)
    n_out = min(7, n)
    idx = RNG.choice(n, size=n_out, replace=False)
    vals[idx] = RNG.integers(1000, 10**6, size=n_out)
    enc = pfor_encode(vals)
    assert np.array_equal(pfor_decode(enc, n), vals)
    # body packs small: with <=7 outliers the body width stays low
    assert enc[0] <= 2


def test_pfor_eight_outliers_widens():
    vals = np.ones(128, dtype=np.uint32)
    vals[:8] = 10**6
    enc = pfor_encode(vals)
    assert np.array_equal(pfor_decode(enc, 128), vals)


@pytest.mark.parametrize(
    "doc_freq", [1, 2, 127, 128, 129, 1000, 50_000]
)
def test_delta_docs_round_trip(doc_freq):
    docs = np.sort(RNG.choice(10**7, size=doc_freq, replace=False)).astype(np.int64)
    base = -1 if docs[0] == 0 else int(RNG.integers(0, docs[0]))
    enc = delta_encode_docs(docs, base)
    assert np.array_equal(delta_decode_docs(enc, doc_freq, base), docs)


def test_delta_docs_dense_run_single_byte():
    docs = np.arange(100, 100 + BLOCK_SIZE, dtype=np.int64)
    enc = delta_encode_docs(docs, 99)
    assert enc == b"\x00"  # ForDeltaUtil.java:55-56 analog


def test_delta_docs_rejects_non_increasing():
    with pytest.raises(ValueError):
        delta_encode_docs(np.array([5, 5]), 0)


@pytest.mark.parametrize("n", [0, 1, 1000])
def test_vbyte_round_trip(n):
    vals = RNG.integers(0, 2**40, size=n).astype(np.uint64)
    assert np.array_equal(vbyte_decode(vbyte_encode(vals), n), vals)


VBYTE_EDGES = np.array([0, 127, 128, 2**32, 2**63], dtype=np.uint64)


def test_vbyte_edge_values():
    # one byte below 2^7, two from 2^7; 2^32 needs 5 groups, 2^63 ten
    assert vbyte_encode(VBYTE_EDGES[:3]) == bytes([0, 127, 0x80, 1])
    assert len(vbyte_encode(VBYTE_EDGES[3:4])) == 5
    assert len(vbyte_encode(VBYTE_EDGES[4:])) == 10
    assert np.array_equal(vbyte_decode(vbyte_encode(VBYTE_EDGES), 5), VBYTE_EDGES)


@pytest.mark.parametrize("seed", range(5))
def test_vbyte_encode_lists_matches_per_list(seed):
    """The batch encoder yields exactly the bytes of one vbyte_encode per
    list, on random widths, the edge values and empty lists."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(0, 7, size=40)
    lists = []
    for n in lengths:
        width = int(rng.integers(1, 64))
        vals = rng.integers(0, 2**width, size=n, dtype=np.uint64)
        vals[rng.random(n) < 0.3] = rng.choice(VBYTE_EDGES)
        lists.append(vals)
    got = vbyte_encode_lists(np.concatenate(lists), lengths)
    assert got == [vbyte_encode(v) for v in lists]
    assert vbyte_encode_lists(np.zeros(0, np.uint64), np.zeros(0, np.int64)) == []


def test_encode_position_lists_matches_per_doc():
    lengths = np.array([1, 3, 2, 1, 4])
    lists = [np.sort(RNG.choice(5000, size=n, replace=False)) for n in lengths]
    got = encode_position_lists(np.concatenate(lists), lengths)
    assert got == [encode_positions(p, np.array([len(p)])) for p in lists]


def test_positions_round_trip():
    freqs = np.array([3, 1, 5, 2])
    pos = np.concatenate([np.sort(RNG.choice(1000, size=f, replace=False)) for f in freqs])
    enc = encode_positions(pos, freqs)
    assert np.array_equal(decode_positions(enc, freqs), pos)


def test_pareto_impacts():
    # (freq, norm) pairs; dominated pairs dropped
    freqs = np.array([3, 5, 2, 5, 7, 1])
    norms = np.array([10, 10, 4, 12, 20, 4])
    f, n = pareto_impacts(freqs, norms)
    # frontier: (2,4) then (5,10) then (7,20); (3,10) dominated by (5,10),
    # (5,12) dominated by (5,10), (1,4) dominated by (2,4)
    assert list(zip(f.tolist(), n.tolist())) == [(2, 4), (5, 10), (7, 20)]
    # invariant: strictly increasing in both coordinates
    assert np.all(np.diff(f) > 0) and np.all(np.diff(n) > 0)


def test_pareto_impacts_single():
    f, n = pareto_impacts(np.array([4]), np.array([9]))
    assert f.tolist() == [4] and n.tolist() == [9]
