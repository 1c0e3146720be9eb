"""Segment merge equivalence, percolator monitor, streaming appends,
corpus determinism + integrity."""

import json
import os

import numpy as np
import pytest

from lucene_spark.build import IndexConfig, build_index
from lucene_spark.corpus import generate_corpus, sha256_sidecar, verify_sha256
from lucene_spark.merge import add_indexes, merge_segments, plan_merges
from lucene_spark.query import PhraseQuery, TermQuery, bool_query
from lucene_spark.search import Searcher
from lucene_spark.streaming.monitor import Monitor, stream_index_appends

from oracle import BruteForceIndex, make_corpus

VOCAB = ["red", "green", "blue", "cyan", "magenta", "yellow", "black", "white"]


@pytest.fixture(scope="module")
def corpus():
    return make_corpus(120, VOCAB, seed=11, min_len=2, max_len=30)


@pytest.fixture(scope="module")
def built(spark, corpus):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, content string"
    )
    cfg = IndexConfig(seg_size=16, block_size=8, with_positions=True)
    idx = build_index(df, cfg, doc_id_col="doc_id").persist()
    yield idx
    idx.unpersist()


def topk(searcher, q, k=10):
    return [
        (int(r["doc_id"]), np.float32(r["score"]))
        for r in searcher.search(q, k).collect()
    ]


def test_merge_preserves_results(spark, built, corpus):
    merged = merge_segments(built, target_seg_size=64)
    merged.postings.persist()
    s0, s1 = Searcher(built), Searcher(merged)
    oracle = BruteForceIndex(corpus)
    for q in [
        TermQuery(term="red"),
        bool_query(should=[TermQuery(term="red"), TermQuery(term="cyan")]),
        PhraseQuery(terms=("red", "green")),
    ]:
        assert topk(s0, q) == topk(s1, q)
    exp = BruteForceIndex.topk(oracle.score_term("red"), 10)
    assert topk(s1, TermQuery(term="red")) == [(d, np.float32(s)) for d, s in exp]
    # fewer segments after compaction
    segs_before = built.postings.select("segment_id").distinct().count()
    segs_after = merged.postings.select("segment_id").distinct().count()
    assert segs_after < segs_before
    from lucene_spark.merge import merge_metrics

    m = merge_metrics(built, merged, wall_sec=1.0)
    assert m["after"]["segments"] == segs_after < m["before"]["segments"]
    assert m["before"]["postings"] == m["after"]["postings"]  # lossless
    assert m["block_compaction_ratio"] >= 1.0
    merged.postings.unpersist()


def _reference_postings(pdf, with_positions):
    """Every posting of a postings block frame as (term, doc, freq, norm,
    positions), decoded row by row with the per-row codec reference."""
    from lucene_spark import codec

    out = []
    for row in pdf.itertuples(index=False):
        docs, freqs, norms = codec.decode_block_row(row)
        if with_positions:
            pos = codec.decode_positions(bytes(row.pos_enc), freqs)
            lists = [tuple(p.tolist()) for p in np.split(pos, np.cumsum(freqs)[:-1])]
        else:
            lists = [None] * len(docs)
        out += [(row.term, int(d), int(f), int(n), p)
                for d, f, n, p in zip(docs, freqs, norms, lists)]
    return sorted(out)


@pytest.fixture(scope="module", params=[False, True], ids=["freqs", "positions"])
def to_merge(request, spark):
    texts = make_corpus(400, VOCAB, seed=5, min_len=2, max_len=30)
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, content string")
    cfg = IndexConfig(seg_size=64, with_positions=request.param)
    idx = build_index(df, cfg, doc_id_col="doc_id", auto_seg_size=False, eager=True)
    yield idx
    idx.unpersist()


@pytest.mark.parametrize("drop_deletes", [False, True])
def test_merge_segments_keeps_every_posting(spark, to_merge, drop_deletes):
    """A merge re-blocks the input's postings, minus the deleted docs when
    it drops deletes, into whole 128-posting blocks inside the new
    segments."""
    positions = to_merge.config.with_positions
    deleted = set(range(3, 400, 7))
    target = 256
    merged = merge_segments(to_merge.delete_docs(sorted(deleted)),
                            target_seg_size=target, drop_deletes=drop_deletes)
    want = _reference_postings(to_merge.postings.toPandas(), positions)
    if drop_deletes:
        want = [p for p in want if p[1] not in deleted]
        assert merged.deletes is None
    else:
        assert merged.deletes is not None
    pdf = merged.postings.toPandas()
    assert _reference_postings(pdf, positions) == want

    from lucene_spark import codec

    size = to_merge.config.block_size
    assert size == codec.BLOCK_SIZE
    for (term, seg), g in pdf.groupby(["term", "segment_id"]):
        g = g.sort_values("block_id")
        assert g["block_id"].tolist() == list(range(len(g)))
        counts = g["count"].tolist()
        assert all(c == size for c in counts[:-1]) and 1 <= counts[-1] <= size
        # blocks chain: each starts past the previous one's last doc, and a
        # segment's first block from just before its own first doc (a
        # singleton carries no encoded docs and keeps -1)
        first = codec.decode_block_row(next(g.itertuples(index=False)))[0][0]
        head = -1 if counts[0] == 1 else first - 1
        assert g["base_doc"].tolist() == [head] + g["last_doc"].tolist()[:-1]
        for row in g.itertuples(index=False):
            docs = codec.decode_block_row(row)[0]
            assert (docs // target == seg).all()


def test_merge_keeps_analysis_config(spark):
    """merge_segments keeps every analysis option, so docs appended after a
    merge are analyzed like the base ones (synonyms included)."""
    import dataclasses

    from lucene_spark.merge import append_documents

    cfg = IndexConfig(seg_size=4, with_positions=False,
                      stopwords=frozenset({"the"}),
                      synonyms=(("fast", ("quick",)),))
    df = spark.createDataFrame(
        [(i, f"the fast tok{i}") for i in range(12)], "doc_id long, text string"
    )
    idx = build_index(df, cfg, content_col="text", doc_id_col="doc_id",
                      auto_seg_size=False, eager=True)
    merged = merge_segments(idx, target_seg_size=16)
    assert merged.config == dataclasses.replace(cfg, seg_size=16)
    new = spark.createDataFrame([(0, "fast car")], "doc_id long, text string")
    appended = append_documents(merged, new, content_col="text",
                                doc_id_col="doc_id")
    df_of = {r["term"]: r["doc_freq"] for r in appended.terms.collect()}
    assert df_of["quick"] == 13 and "the" not in df_of
    idx.unpersist()


def test_hot_term_skew_salted_by_segments(spark):
    """North-rule skew story: a term occurring in EVERY doc never concentrates
    on one reducer — the segment grouping is the salt. Its postings land in
    one independently-encoded group per segment, each bounded by seg_size."""
    from lucene_spark.build import IndexConfig, build_index

    n = 512
    rows = [(i, f"hot filler{i % 7} tok{i}") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_index(
        df, IndexConfig(seg_size=64, with_positions=False),
        content_col="text", doc_id_col="doc_id", auto_seg_size=False,
    )
    hot = idx.postings.filter("term = 'hot'").select("segment_id", "count").collect()
    segs = {r["segment_id"] for r in hot}
    assert len(segs) == n // 64  # spread across every segment
    assert all(r["count"] <= 64 for r in hot)  # each group bounded by seg_size
    assert sum(r["count"] for r in hot) == n


def test_plan_merges_groups_small_segments():
    plan = plan_merges({0: 10, 1: 20, 2: 5000, 3: 8, 4: 30}, floor_docs=1024)
    assert plan.groups == [[3, 0, 1, 4]]


def test_add_indexes(spark, corpus):
    half = len(corpus) // 2
    cfg = IndexConfig(seg_size=16, block_size=8, with_positions=True)
    df1 = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus[:half])], "doc_id long, content string"
    )
    df2 = spark.createDataFrame(
        [(i + half, t) for i, t in enumerate(corpus[half:])],
        "doc_id long, content string",
    )
    i1 = build_index(df1, cfg, doc_id_col="doc_id")
    i2 = build_index(df2, cfg, doc_id_col="doc_id")
    combined = add_indexes(i1, i2)
    oracle = BruteForceIndex(corpus)
    assert combined.stats.doc_count == oracle.doc_count
    assert combined.stats.sum_total_term_freq == oracle.sum_ttf
    s = Searcher(combined)
    exp = BruteForceIndex.topk(oracle.score_term("blue"), 10)
    assert topk(s, TermQuery(term="blue")) == [(d, np.float32(s_)) for d, s_ in exp]


def test_monitor_match_batch(spark):
    m = Monitor(IndexConfig(seg_size=8))
    m.register("q_red", TermQuery(term="red"))
    m.register("q_and", bool_query(must=[TermQuery(term="red"), TermQuery(term="blue")]))
    batch = spark.createDataFrame(
        [
            (0, "red fish"),
            (1, "blue red mix"),
            (2, "green only"),
        ],
        "doc_id long, text string",
    )
    got = {(r["query_id"], r["doc_id"]) for r in m.match_batch(batch).collect()}
    assert got == {("q_red", 0), ("q_red", 1), ("q_and", 1)}


def test_stream_index_appends(spark, tmp_path):
    src_dir = str(tmp_path / "src")
    df = spark.createDataFrame(
        [(i, f"streamword{i % 3} common") for i in range(20)],
        "doc_id long, text string",
    )
    df.coalesce(1).write.json(src_dir)
    stream = spark.readStream.schema("doc_id long, text string").json(src_dir)
    out_dir = str(tmp_path / "idx")
    q = stream_index_appends(
        stream,
        out_dir,
        IndexConfig(seg_size=8),
        checkpoint=str(tmp_path / "ckpt"),
    ).start()
    q.awaitTermination(120)
    manifest = [
        json.loads(line)
        for line in open(os.path.join(out_dir, "stream_manifest.jsonl"))
    ]
    assert sum(m["doc_count"] for m in manifest) == 20
    postings = spark.read.parquet(os.path.join(out_dir, "postings"))
    assert postings.filter(postings.term == "common").count() > 0


def test_corpus_deterministic_and_verified(spark):
    c1 = generate_corpus(spark, 50, num_partitions=4)
    c2 = generate_corpus(spark, 50, num_partitions=7)  # different partitioning
    p1 = c1.orderBy("repo", "path").toPandas()
    p2 = c2.orderBy("repo", "path").toPandas()
    assert p1.equals(p2)
    assert verify_sha256(c1, sha256_sidecar(c2)) == 0
    # tampering is caught
    from pyspark.sql import functions as F

    tampered = c1.withColumn(
        "content",
        F.when(F.col("path").contains("00000003"), F.lit("evil")).otherwise(
            F.col("content")
        ),
    )
    with pytest.raises(ValueError):
        verify_sha256(tampered, sha256_sidecar(c1))


def test_assign_doc_ids_deterministic_global_order(spark):
    """Regression: repartitionByRange resamples boundaries per job, which
    previously produced duplicate doc_ids; the driver-collected-cuts scheme
    must equal a global row_number exactly, on an UNPERSISTED input."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from lucene_spark.build import assign_doc_ids

    c = generate_corpus(spark, 500, num_partitions=9)
    df = assign_doc_ids(c, ["repo", "path"], num_partitions=5)
    assert df.groupBy("doc_id").count().filter(F.col("count") > 1).count() == 0
    w = Window.orderBy("repo", "path")
    bad = (
        df.withColumn("expected", F.row_number().over(w) - 1)
        .filter(F.col("doc_id") != F.col("expected"))
        .count()
    )
    assert bad == 0


def test_corpus_exercises_analysis_features(spark):
    pdf = generate_corpus(spark, 30, num_partitions=2).toPandas()
    text = "\n".join(pdf["content"])
    assert "def" in text and "_" in text
    import re

    assert re.search(r"[a-z][A-Z]", text)  # camelCase boundary present
    assert re.search(r"rare_\d+_", text)  # singleton tokens


def test_append_after_expunge_no_doc_id_collision(spark):
    """Regression (round-1 ADVICE): append_documents shifted new ids by
    doc_count; after expunge_deletes doc_count < max(doc_id)+1 and appended
    docs silently collided with survivors. The shift must use max(doc_id)+1."""
    from pyspark.sql import functions as F

    from lucene_spark.merge import append_documents

    cfg = IndexConfig(seg_size=16, with_positions=False)
    base_df = spark.createDataFrame(
        [(i, f"base tok{i}") for i in range(20)], "doc_id long, text string"
    )
    base = build_index(base_df, cfg, content_col="text", doc_id_col="doc_id",
                       auto_seg_size=False, eager=True)
    pruned = base.delete_docs([0, 1, 2]).expunge_deletes()
    assert pruned.stats.doc_count == 17  # ids 3..19 survive, non-dense
    new_df = spark.createDataFrame(
        [(i, f"fresh tok{100 + i}") for i in range(5)], "doc_id long, text string"
    )
    appended = append_documents(pruned, new_df, content_col="text",
                                doc_id_col="doc_id")
    ids = [r["doc_id"] for r in appended.docs.select("doc_id").collect()]
    assert len(ids) == len(set(ids)) == 22  # no collisions
    assert min(i for i in ids if i >= 20) == 20  # appended after max(19)+1
    # every appended doc individually findable
    s = Searcher(appended)
    got = {int(r["doc_id"]) for r in s.matches(TermQuery(term="fresh")).collect()}
    assert got == {20, 21, 22, 23, 24}


def test_append_documents_equals_full_build(spark):
    """Incremental append == one-shot build over the concatenated corpus
    (same doc_ids, same stats, same query results)."""
    from lucene_spark.build import IndexConfig, build_index
    from lucene_spark.merge import append_documents
    from lucene_spark.query import TermQuery, bool_query
    from lucene_spark.search import Searcher

    texts = [f"alpha beta doc{i} {'spark' if i % 3 == 0 else 'merge'}" for i in range(150)]
    cfg = IndexConfig(seg_size=32, with_positions=False)
    base_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts[:100])], "doc_id long, text string"
    )
    new_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts[100:])], "doc_id long, text string"
    )
    base = build_index(base_df, cfg, content_col="text", doc_id_col="doc_id",
                       auto_seg_size=False, eager=True)
    appended = append_documents(base, new_df, content_col="text",
                                doc_id_col="doc_id")
    full_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    full = build_index(full_df, cfg, content_col="text", doc_id_col="doc_id",
                       auto_seg_size=False, eager=True)
    assert appended.stats.doc_count == full.stats.doc_count == 150
    assert appended.stats.sum_total_term_freq == full.stats.sum_total_term_freq
    t_a = {r["term"]: (r["doc_freq"], r["total_term_freq"])
           for r in appended.terms.collect()}
    t_f = {r["term"]: (r["doc_freq"], r["total_term_freq"])
           for r in full.terms.collect()}
    assert t_a == t_f
    s_a, s_f = Searcher(appended, dtype=np.float32), Searcher(full, dtype=np.float32)
    for q in (TermQuery(term="spark"),
              bool_query(should=[TermQuery(term="spark"), TermQuery(term="merge")])):
        a = [(int(r["doc_id"]), np.float32(r["score"]))
             for r in s_a.search(q, 15, prune=False).collect()]
        f = [(int(r["doc_id"]), np.float32(r["score"]))
             for r in s_f.search(q, 15, prune=False).collect()]
        assert a == f


def test_plan_merges_tiered_budget_and_scoring():
    from lucene_spark.merge import plan_merges_tiered

    # 25 uniform small segments, floor 1024: budget = segs_per_tier (10);
    # the planner merges balanced windows of 10 until within budget
    sizes = {i: 100 for i in range(25)}
    plan = plan_merges_tiered(sizes, max_merge_at_once=10, segs_per_tier=10,
                              floor_docs=1024)
    merged = [s for g in plan.groups for s in g]
    assert len(merged) == len(set(merged))  # no segment in two merges
    assert all(len(g) == 10 for g in plan.groups[:1])
    # enough merges planned to bring 25 under the budget of 10
    assert 25 - sum(len(g) - 1 for g in plan.groups) <= 10

    # tiered geometry: one big segment + ten floor-size ones is over budget
    # only by the small tier; merges never include the too-big segment
    sizes2 = {0: 4_000_000, **{i: 500 for i in range(1, 30)}}
    plan2 = plan_merges_tiered(sizes2, max_merged_docs=5_000_000)
    assert all(0 not in g for g in plan2.groups)

    # a balanced window scores better than a lopsided one: with one huge
    # eligible segment and many small, the chosen merges are all-small
    # (skew = floor(first)/Σfloor punishes the huge-segment window)
    sizes3 = {0: 900_000, **{i: 1000 for i in range(1, 41)}}
    plan3 = plan_merges_tiered(sizes3, segs_per_tier=4, floor_docs=1024)
    assert plan3.groups and all(0 not in g for g in plan3.groups)

    # under budget -> no merges
    assert plan_merges_tiered({0: 10_000, 1: 12_000}).groups == []


def test_dedup_stream_across_batches(spark, tmp_path):
    """applyInPandasWithState cross-batch dedup: hashes seen in run 1 are
    still deduped in run 2 (state survives via the streaming checkpoint)."""
    import json as _json

    from lucene_spark.streaming.dedup_stream import dedup_stream

    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    def run_once():
        stream = spark.readStream.schema("doc_id long, text string").json(str(src))
        q = (
            dedup_stream(stream, shards=4)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    with open(src / "a.json", "w") as fh:
        for i, t in ((0, "alpha text"), (1, "beta text"), (2, "alpha text")):
            fh.write(_json.dumps({"doc_id": i, "text": t}) + "\n")
    run_once()
    got1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert len(got1) == 2 and 1 in got1  # one of {0,2} + doc 1

    with open(src / "b.json", "w") as fh:
        for i, t in ((3, "alpha text"), (4, "gamma text")):
            fh.write(_json.dumps({"doc_id": i, "text": t}) + "\n")
    run_once()
    got2 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got2 == got1 | {4}  # doc 3's hash was seen in run 1 -> dropped


def test_monitor_presearcher_skips_incompatible_queries(spark):
    from lucene_spark.query import (
        MatchAllDocsQuery,
        PhraseQuery,
        SynonymQuery,
    )
    from lucene_spark.streaming.monitor import Monitor, _presearch_terms

    m = Monitor(IndexConfig(seg_size=8))
    m.register("q_red", TermQuery(term="red"))
    m.register("q_absent", TermQuery(term="zebra"))  # term not in batch
    m.register("q_and_partial", bool_query(
        must=[TermQuery(term="red"), TermQuery(term="zebra")]))  # half absent
    m.register("q_phrase", PhraseQuery(terms=("red", "blue")))
    m.register("q_syn", SynonymQuery(terms=("zebra", "blue")))
    m.register("q_all", MatchAllDocsQuery())  # unanalyzable: never skipped
    batch = spark.createDataFrame(
        [(0, "red fish"), (1, "blue red mix")], "doc_id long, text string"
    )
    vocab = {"red", "fish", "blue", "mix"}
    cands = set(m._candidate_queries(vocab))
    # absent-required-term queries are pruned WITHOUT evaluation
    assert cands == {"q_red", "q_phrase", "q_syn", "q_all"}
    got = {(r["query_id"], r["doc_id"]) for r in m.match_batch(batch).collect()}
    assert got == {
        ("q_red", 0), ("q_red", 1), ("q_syn", 1),
        ("q_all", 0), ("q_all", 1),
    }
    # presearch term extraction shapes
    assert _presearch_terms(TermQuery(term="x")) == ({"x"}, {"x"})
    req, anys = _presearch_terms(bool_query(should=[TermQuery(term="a"),
                                                    TermQuery(term="b")]))
    assert req is None and anys == {"a", "b"}
    assert _presearch_terms(MatchAllDocsQuery()) == (None, None)


def test_searcher_manager_generation_waiting(spark, tmp_path):
    """SearcherManager + waitForGeneration analogs: reopen sees exactly the
    committed generations, scores equal a one-shot batch build over the
    same rows, and waiting past the writer times out."""
    from lucene_spark.streaming.manager import SearcherManager

    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "idx")
    cfg = IndexConfig(seg_size=8)
    rows1 = [(i, f"streamword{i % 3} common") for i in range(12)]
    spark.createDataFrame(rows1, "doc_id long, text string").coalesce(
        1
    ).write.mode("append").json(src_dir)

    def run_stream():
        stream = spark.readStream.schema("doc_id long, text string").json(src_dir)
        q = stream_index_appends(
            stream, out_dir, cfg, checkpoint=str(tmp_path / "ckpt")
        ).start()
        q.awaitTermination(120)

    run_stream()
    mgr = SearcherManager(spark, out_dir, dtype=np.float64)
    s1 = mgr.wait_for_generation(1, timeout=10)
    gen1 = mgr.current_generation
    assert gen1 >= 1
    got1 = {
        int(r["doc_id"]): round(float(r["score"]), 6)
        for r in s1.search(TermQuery(term="common"), 50).collect()
    }
    assert set(got1) == set(range(12))

    # second wave through the SAME checkpoint: generation must advance
    rows2 = [(i, f"streamword{i % 3} common") for i in range(12, 20)]
    spark.createDataFrame(rows2, "doc_id long, text string").coalesce(
        1
    ).write.mode("append").json(src_dir)
    run_stream()
    s2 = mgr.wait_for_generation(gen1 + 1, timeout=10)
    assert mgr.current_generation > gen1
    got2 = {
        int(r["doc_id"]): round(float(r["score"]), 6)
        for r in s2.search(TermQuery(term="common"), 50).collect()
    }
    assert set(got2) == set(range(20))

    # reopened view scores == a one-shot batch build over the same rows
    # (stats summed across generations are exact)
    batch = build_index(
        spark.createDataFrame(rows1 + rows2, "doc_id long, text string"),
        cfg, content_col="text", doc_id_col="doc_id",
    )
    exp = {
        int(r["doc_id"]): round(float(r["score"]), 6)
        for r in Searcher(batch, dtype=np.float64)
        .search(TermQuery(term="common"), 50)
        .collect()
    }
    assert got2 == exp

    # acquired searchers stay valid; maybe_refresh is a no-op at the tip
    assert mgr.maybe_refresh() is False
    with pytest.raises(TimeoutError):
        mgr.wait_for_generation(mgr.generation() + 5, timeout=0.5, poll=0.1)


def test_read_code_table_sources(spark, tmp_path):
    """Source adapter: parquet path round-trip with column pruning; the
    Iceberg branch is import-gated with an actionable error (no runtime
    JARs in this sandbox)."""
    from lucene_spark.sources import read_code_table

    p = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(0, "alpha", "x"), (1, "beta", "y")],
        "doc_id long, content string, extra string",
    ).write.parquet(p)
    df = read_code_table(spark, p, columns=("doc_id", "content"))
    assert df.columns == ["doc_id", "content"] and df.count() == 2
    # inference: existing path -> parquet
    assert read_code_table(spark, p).count() == 2
    with pytest.raises(ImportError):
        read_code_table(spark, "nosuch.code_repos", fmt="iceberg")
    with pytest.raises(ValueError):
        read_code_table(spark, p, fmt="orc2")
