"""Every build goes through the one fused invert-and-encode pass: a build
over pre-assigned doc_ids equals the order_cols build of the same corpus,
non-dense ids keep exact per-doc stats, and repeated ids are rejected."""

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from lucene_spark import codec
from lucene_spark.build import IndexConfig, assign_doc_ids, build_index
from lucene_spark.corpus import generate_corpus
from lucene_spark.smallfloat import int_to_byte4

from oracle import make_corpus


def _postings(idx):
    """Every posting as (term, doc, freq, norm, positions), block layout
    aside."""
    out = []
    for row in idx.postings.toPandas().itertuples(index=False):
        docs, freqs, norms = codec.decode_block_row(row)
        if row.pos_enc is not None:
            pos = codec.decode_positions(bytes(row.pos_enc), freqs.astype(np.int32))
            lists = np.split(pos, np.cumsum(freqs)[:-1])
        else:
            lists = [None] * len(docs)
        for d, f, n, p in zip(docs, freqs, norms, lists):
            out.append((row.term, int(d), int(f), int(n),
                        None if p is None else tuple(p.tolist())))
    return sorted(out)


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.mark.parametrize("positions", [False, True])
def test_doc_id_col_build_equals_order_cols_build(spark, positions):
    corpus = generate_corpus(spark, 400, seed=5, num_partitions=4).persist()
    ids = assign_doc_ids(corpus, ["repo", "path"], 4).persist()
    cfg = IndexConfig(chain="code", seg_size=64, with_positions=positions,
                      store_cols=("repo",))
    by_order = build_index(corpus, cfg, order_cols=["repo", "path"],
                           num_partitions=3, auto_seg_size=False, eager=True)
    by_id = build_index(ids, cfg, doc_id_col="doc_id", num_partitions=3,
                        auto_seg_size=False, eager=True)
    assert by_id.stats == by_order.stats
    assert by_id.docs.columns == by_order.docs.columns
    # singleton_* columns depend on the block layout unless doc_freq == 1
    stat_cols = ["term", "doc_freq", "total_term_freq"]
    assert _rows(by_id.terms, stat_cols) == _rows(by_order.terms, stat_cols)
    single = by_order.terms.columns
    assert _rows(by_id.terms.filter("doc_freq = 1"), single) == _rows(
        by_order.terms.filter("doc_freq = 1"), single)
    assert _rows(by_id.docs, by_order.docs.columns) == _rows(
        by_order.docs, by_order.docs.columns)
    assert _postings(by_id) == _postings(by_order)
    for idx in (by_order, by_id):
        idx.unpersist()
    ids.unpersist()
    ids._doc_id_parted.unpersist()
    corpus.unpersist()


def test_order_cols_build_same_at_any_partition_count(spark):
    """Segments that straddle a partition encode once per side, so the block
    boundaries follow num_partitions; stats, postings and float32 scores
    must not."""
    from lucene_spark.query import PhraseQuery, TermQuery, bool_query
    from lucene_spark.search import Searcher

    corpus = generate_corpus(spark, 400, seed=9, num_partitions=4).persist()
    cfg = IndexConfig(chain="code", seg_size=64, block_size=16)
    a, b = (build_index(corpus, cfg, order_cols=["repo", "path"], num_partitions=n,
                        auto_seg_size=False, eager=True) for n in (2, 5))
    assert a.stats == b.stats
    stat_cols = ["term", "doc_freq", "total_term_freq"]
    assert _rows(a.terms, stat_cols) == _rows(b.terms, stat_cols)
    assert _rows(a.docs, a.docs.columns) == _rows(b.docs, b.docs.columns)
    assert _postings(a) == _postings(b)
    t = lambda w: TermQuery(term=w)
    queries = [
        t("def"),
        bool_query(should=[t("def"), t("return"), t("import")]),
        bool_query(must=[t("def"), t("import")]),
        PhraseQuery(terms=("import", "def")),
    ]
    sa, sb = Searcher(a, dtype=np.float32), Searcher(b, dtype=np.float32)
    for q in queries:
        want = [(d, np.float32(s)) for d, s in sa.top_docs(q, 10)]
        assert len(want) == 10, q
        assert [(d, np.float32(s)) for d, s in sb.top_docs(q, 10)] == want, q
    for idx in (a, b):
        idx.unpersist()
    corpus.unpersist()


@pytest.mark.parametrize("eager", [False, True])
def test_gapped_ids_with_zero_token_docs_exact_docs_table(spark, eager):
    texts, want = [], []
    for i in range(120):
        words = [] if i % 7 == 0 else [f"w{(i + j) % 9}" for j in range(i % 5 + 1)]
        # "!!" tokenizes to nothing; w1 gets an index-time synonym overlap
        texts.append(" ".join(words) if words else ("!!" if i % 2 else ""))
        base = len(words)
        overlaps = words.count("w1")
        doc_id = i * 3 + (500 if i % 4 == 0 else 0)
        want.append((doc_id, base + overlaps,
                     int(int_to_byte4(np.array([base]))[0]), overlaps))
    df = spark.createDataFrame(list(zip([w[0] for w in want], texts)),
                               "id long, text string")
    cfg = IndexConfig(seg_size=16, synonyms=(("w1", ("one",)),))
    idx = build_index(df, cfg, content_col="text", doc_id_col="id",
                      num_partitions=3, auto_seg_size=False, eager=eager)
    got = _rows(idx.docs, ["doc_id", "length", "norm", "num_overlap"])
    assert got == sorted(want)
    assert idx.stats.doc_count == 120
    assert idx.stats.sum_total_term_freq == sum(w[1] for w in want)
    idx.unpersist()


@pytest.mark.parametrize("eager", [False, True])
def test_duplicate_doc_id_rejected(spark, eager):
    df = spark.createDataFrame(
        [(i, f"tok{i}") for i in range(40)] + [(17, "again")],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="duplicate doc_id 17"):
        build_index(df, IndexConfig(seg_size=8), content_col="text",
                    doc_id_col="doc_id", num_partitions=3,
                    auto_seg_size=False, eager=eager)


def test_unpersist_releases_everything_an_index_pins(spark):
    # eager builds pin their fused output as a local checkpoint, which
    # DataFrame.unpersist cannot release, and an appended index is a union
    # over the delta's tables: unpersist() must reach all of them
    from pyspark.sql import functions as F

    from lucene_spark.merge import append_documents

    sc = spark.sparkContext
    corpus = generate_corpus(spark, 300, num_partitions=4).persist()
    batch = generate_corpus(spark, 60, seed=5, num_partitions=2).withColumn(
        "did", F.regexp_extract("path", r"file(\d+)", 1).cast("long")
    ).persist()
    corpus.count(), batch.count()

    def pinned():
        return sc._jsc.getPersistentRDDs().size()

    start = pinned()
    cfg = IndexConfig(chain="code", with_positions=True)
    for eager in (True, True, False):
        build_index(corpus, cfg, order_cols=["repo", "path"], eager=eager).unpersist()
        assert pinned() == start
    base = build_index(corpus, cfg, order_cols=["repo", "path"], eager=True)
    base_pins = pinned()
    for kw in ({"doc_id_col": "did"}, {"order_cols": ["repo", "path"]}):
        grown = append_documents(base, batch, **kw)
        assert grown.stats.doc_count == 360
        grown.unpersist()
        assert pinned() == base_pins
    base.unpersist()
    assert pinned() == start
    corpus.unpersist()
    batch.unpersist()


# ---- doc ids far past 2^31: the first block of a term in a segment
# delta-encodes from its own first doc, so any id range round-trips

_RT_TEXTS = make_corpus(48, ["red", "green", "blue", "cyan"], seed=3,
                        min_len=1, max_len=12)


def _rt_build(spark, df, **kw):
    cfg = IndexConfig(seg_size=1024, block_size=8, with_positions=True)
    return build_index(df, cfg, doc_id_col="doc_id", num_partitions=2,
                       auto_seg_size=False, eager=True, **kw)


@pytest.fixture(scope="module")
def dense_postings(spark):
    idx = _rt_build(spark, spark.createDataFrame(
        list(enumerate(_RT_TEXTS)), "doc_id long, content string"))
    yield _postings(idx)
    idx.unpersist()


def _remapped(dense, ids):
    """The dense build's postings with doc i renumbered to ids[i]."""
    return sorted((t, int(ids[d]), f, n, p) for t, d, f, n, p in dense)


_near = lambda b: st.integers(b - 40, b + 40)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@example(shift=2**31 - 20, split=20, gap=1)
@example(shift=2**32 - 20, split=20, gap=1)
@example(shift=2**40, split=0, gap=3)
@given(
    shift=st.sampled_from([2**31, 2**32, 2**40]).flatmap(_near),
    split=st.integers(0, 48),
    gap=st.integers(1, 3),
)
def test_high_doc_ids_round_trip(spark, dense_postings, shift, split, gap):
    """Docs from ``split`` on are shifted by ~2^31, ~2^32 or ~2^40:
    decoded_postings of the build equals the dense build, renumbered."""
    from lucene_spark.search import decoded_postings

    ids = [i * gap + (shift if i >= split else 0) for i in range(len(_RT_TEXTS))]
    idx = _rt_build(spark, spark.createDataFrame(
        list(zip(ids, _RT_TEXTS)), "doc_id long, content string"))
    try:
        got = sorted(
            (r["term"], r["doc_id"], r["freq"], r["norm"], tuple(r["positions"]))
            for r in decoded_postings(idx.postings, True).collect()
        )
        assert got == _remapped(dense_postings, ids)
    finally:
        idx.unpersist()


def test_monotonic_ids_append_and_merge_round_trip(spark, dense_postings):
    """Gapped monotonically_increasing_id ids (2^33 apart per partition),
    two append_documents of such batches, then merge_segments: every
    posting decodes to its doc."""
    from pyspark.sql import functions as F

    from lucene_spark.merge import append_documents, merge_segments

    texts = _RT_TEXTS
    thirds = [list(range(j, len(texts), 3)) for j in range(3)]
    frames, ids = [], {}
    base_n = 0
    for part in thirds:
        df = (spark.createDataFrame([(i, texts[i]) for i in part],
                                    "i long, content string")
              .repartition(3).withColumn("doc_id", F.monotonically_increasing_id())
              .persist())
        mono = {r["i"]: r["doc_id"] for r in df.collect()}
        ids.update({i: d + base_n for i, d in mono.items()})
        base_n = max(ids.values()) + 1
        frames.append(df)
    assert max(ids.values()) > 2**33
    idx = _rt_build(spark, frames[0])
    for df in frames[1:]:
        idx = append_documents(idx, df, content_col="content", doc_id_col="doc_id")
    want = _remapped(dense_postings, [ids[i] for i in range(len(texts))])
    try:
        assert _postings(idx) == want
        merged = merge_segments(idx)
        assert _postings(merged) == want
    finally:
        idx.unpersist()
        for df in frames:
            df.unpersist()


def test_segment_id_overflow_raises(spark, dense_postings):
    """segment_id is an int32: ids shifted by 2^42 at seg_size 1024 sit in
    segment 2^32, which the cast used to file under segment 0 with the
    unshifted docs. The build raises instead, and so does a merge down to
    a target segment size whose segment ids would wrap."""
    from lucene_spark.merge import merge_segments

    ids = [i + (2**42 if i >= 24 else 0) for i in range(len(_RT_TEXTS))]
    df = spark.createDataFrame(list(zip(ids, _RT_TEXTS)), "doc_id long, content string")
    with pytest.raises(Exception, match="segment_id overflow"):
        _rt_build(spark, df)
    cfg = IndexConfig(seg_size=2**20, block_size=8, with_positions=True)
    idx = build_index(df, cfg, doc_id_col="doc_id", num_partitions=2,
                      auto_seg_size=False, eager=True)
    try:
        assert _postings(idx) == _remapped(dense_postings, ids)
        with pytest.raises(Exception, match="segment_id overflow"):
            merge_segments(idx, target_seg_size=1024).postings.collect()
    finally:
        idx.unpersist()
