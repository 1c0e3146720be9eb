"""Positional evaluators on the Spark tier: every positional family fails
fast on an index built without positions, and the Spark job count of an
exhaustive positional top-k stays pinned."""

import numpy as np
import pytest

from lucene_spark.build import IndexConfig, build_index
from lucene_spark.query import (
    AtLeastIntervalQuery,
    ExtendedIntervalQuery,
    FieldMaskedTerm,
    IntervalFilterQuery,
    IntervalQuery,
    MultiPhraseQuery,
    NoOverlapsIntervalQuery,
    PhraseQuery,
    SpanContainQuery,
    SpanFirstQuery,
    SpanNearQuery,
    SpanNotQuery,
    SpanPositionRangeQuery,
    TermAutomatonQuery,
)
from lucene_spark.search import MultiFieldSearcher, Searcher

import os, sys
sys.path.insert(0, os.path.dirname(__file__))
from oracle import make_corpus

VOCAB = ["alpha", "beta", "gamma", "delta"]


def _df(spark):
    a = make_corpus(120, VOCAB, seed=13)
    b = [
        " ".join(
            ["zeta" if (i + j) % 3 == 0 else "eta" for j in range(len(t.split()))]
        )
        for i, t in enumerate(a)
    ]
    return spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(zip(a, b))],
        "doc_id long, fa string, fb string",
    )


def _build(df, col, positions):
    cfg = IndexConfig(seg_size=64, with_positions=positions)
    return build_index(df, cfg, content_col=col, doc_id_col="doc_id",
                       auto_seg_size=False, eager=True)


@pytest.fixture(scope="module")
def indexes(spark):
    df = _df(spark)
    out = {
        "a": _build(df, "fa", True),
        "b": _build(df, "fb", True),
        "nopos": _build(df, "fa", False),
    }
    yield out
    for idx in out.values():
        idx.unpersist()


def _automaton():
    q = TermAutomatonQuery()
    s1, s2 = q.create_state(), q.create_state()
    q.add_transition(0, s1, "alpha")
    q.add_any_transition(s1, s2)
    q.add_transition(s1, s2, "beta")
    q.set_accept(s2)
    q.finish()
    return q


def _families():
    """One query of every positional family, over terms every index holds."""
    near = SpanNearQuery(terms=("alpha", "beta"), slop=2, in_order=True)
    return {
        "phrase": PhraseQuery(terms=("alpha", "beta")),
        "sloppy_phrase": PhraseQuery(terms=("alpha", "beta", "gamma"), slop=2),
        "multi_phrase": MultiPhraseQuery(slots=(("alpha", "gamma"), ("beta",))),
        "span_near": near,
        "span_near_slots": SpanNearQuery(terms=(("alpha", "gamma"), "beta"), slop=1),
        "span_contain": SpanContainQuery(kind="containing", big=near, little="beta"),
        "span_not_spans": SpanNotQuery(include=near, exclude=("gamma",)),
        "span_first": SpanFirstQuery(term="alpha", end=3),
        "span_position_range": SpanPositionRangeQuery(match=near, start=1, end=9),
        "intervals": IntervalQuery(terms=("alpha", "beta"), max_gaps=2),
        "intervals_slots": IntervalQuery(terms=(("alpha", "gamma"), "beta")),
        "intervals_ext": ExtendedIntervalQuery(
            source=IntervalQuery(terms=("alpha", "beta")), before=1, after=1
        ),
        "intervals_atleast": AtLeastIntervalQuery(
            terms=("alpha", "beta", "gamma"), min_should_match=2
        ),
        "interval_filter": IntervalFilterQuery(
            kind="containing",
            source=IntervalQuery(terms=("alpha", "gamma"), ordered=False),
            reference=IntervalQuery(terms=("beta",)),
        ),
        "intervals_no_overlaps": NoOverlapsIntervalQuery(a="alpha", b="beta"),
        "term_automaton": _automaton(),
    }


@pytest.mark.parametrize("family", sorted(_families()))
def test_positional_query_needs_positions(indexes, family):
    """A positional query over present terms on a freqs-only index raises
    the IndexOptions-mismatch ValueError, never a worker error."""
    s = Searcher(indexes["nopos"], dtype=np.float32)
    q = _families()[family]
    with pytest.raises(ValueError, match="positional query .* with_positions=False"):
        s.search(q, 10, prune=False).collect()


# Spark jobs of a warm ``search(q, prune=False).collect()`` per shape: the
# shuffle map stage AQE runs as its own job, then the top-k; the masked near
# adds the mask field's norms join
PINNED_JOBS = {
    "phrase": 2,
    "sloppy_phrase": 2,
    "span_near": 2,
    "intervals": 2,
    "span_near_masked": 3,
}


def test_positional_spark_job_counts(spark, indexes):
    sa = Searcher(indexes["a"], dtype=np.float32)
    mf = MultiFieldSearcher(
        {"a": sa, "b": Searcher(indexes["b"], dtype=np.float32)},
        default_field="a",
    )
    fam = _families()
    shapes = {
        "phrase": (sa, fam["phrase"]),
        "sloppy_phrase": (sa, fam["sloppy_phrase"]),
        "span_near": (sa, fam["span_near"]),
        "intervals": (sa, fam["intervals"]),
        "span_near_masked": (mf, SpanNearQuery(
            terms=("alpha", FieldMaskedTerm(field="b", term="zeta")), slop=1,
        )),
    }

    sc = spark.sparkContext
    got = {}
    for name, (s, q) in shapes.items():
        rows = s.search(q, 10, prune=False).collect()  # warm: term stats
        assert rows, name
        group = f"positional-jobs-{name}"
        sc.setJobGroup(group, "warm positional top-k")
        try:
            s.search(q, 10, prune=False).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        got[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert got == PINNED_JOBS
