"""Delete (tombstone) semantics: deleted docs never match, stats unchanged
until expunge (Lucene PendingDeletes / SegmentMerger behavior)."""

import numpy as np
import pytest

from lucene_spark.build import IndexConfig, build_index
from lucene_spark.query import (
    BlendedTermQuery,
    DisjunctionMaxQuery,
    PhraseQuery,
    SynonymQuery,
    TermQuery,
    bool_query,
)
from lucene_spark.search import Searcher

import sys, os
sys.path.insert(0, os.path.dirname(__file__))
from oracle import BruteForceIndex, make_corpus


@pytest.fixture(scope="module")
def corpus():
    return make_corpus(300, ["the", "spark", "merge", "red", "blue"], seed=7)


@pytest.fixture(scope="module")
def built(spark, corpus):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    idx = build_index(
        df, IndexConfig(seg_size=64, with_positions=True),
        content_col="text", doc_id_col="doc_id", auto_seg_size=False, eager=True,
    )
    yield idx
    idx.unpersist()


def _ids(df):
    return [int(r["doc_id"]) for r in df.collect()]


def test_deleted_docs_never_match_all_paths(spark, built, corpus, monkeypatch):
    base = Searcher(built, dtype=np.float32)
    top = base.search(TermQuery(term="spark"), 5, prune=False).collect()
    victim = int(top[0]["doc_id"])

    deleted = built.delete_docs([victim])
    s = Searcher(deleted, dtype=np.float32)

    # unpruned
    got = _ids(s.search(TermQuery(term="spark"), 5, prune=False))
    assert victim not in got
    # scores of surviving docs unchanged (stats still include the deleted doc)
    exp_rest = [
        (int(r["doc_id"]), np.float32(r["score"])) for r in top if int(r["doc_id"]) != victim
    ]
    got_sc = [
        (int(r["doc_id"]), np.float32(r["score"]))
        for r in s.search(TermQuery(term="spark"), 4, prune=False).collect()
    ]
    assert got_sc == exp_rest[:4]
    # pruned (WAND) path
    assert victim not in _ids(s.search(TermQuery(term="spark"), 5, prune=True))
    # hot driver path
    monkeypatch.setenv("LUCENE_SPARK_HOT_CACHE_POSTINGS", "1000000")
    s2 = Searcher(deleted, dtype=np.float32)
    rows = s2.top_docs(TermQuery(term="spark"), 5)
    assert victim not in [d for d, _ in rows]
    assert rows[:4] == [(d, pytest.approx(float(v))) for d, v in got_sc]
    # phrase + boolean
    q = bool_query(should=[TermQuery(term="spark"), TermQuery(term="merge")])
    assert victim not in _ids(s.search(q, 10, prune=False))
    assert s.count(TermQuery(term="spark")) == base.count(TermQuery(term="spark")) - 1


def test_expunge_rebuilds_stats(spark, built, corpus):
    victims = [0, 1, 2]
    deleted = built.delete_docs(victims)
    ex = deleted.expunge_deletes()
    ex.postings.persist()
    assert ex.stats.doc_count == built.stats.doc_count - 3
    assert ex.deletes is None
    # equals a fresh build over the surviving corpus
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus) if i not in victims],
        "doc_id long, text string",
    )
    fresh = build_index(
        df, IndexConfig(seg_size=64 * 8, with_positions=True),
        content_col="text", doc_id_col="doc_id", auto_seg_size=False,
    )
    t_ex = {r["term"]: (r["doc_freq"], r["total_term_freq"]) for r in ex.terms.collect()}
    t_fr = {r["term"]: (r["doc_freq"], r["total_term_freq"]) for r in fresh.terms.collect()}
    assert t_ex == t_fr
    assert ex.stats.sum_total_term_freq == fresh.stats.sum_total_term_freq
    # post-expunge scoring equals the fresh index's scoring
    s_ex, s_fr = Searcher(ex, dtype=np.float32), Searcher(fresh, dtype=np.float32)
    for q in (TermQuery(term="spark"), PhraseQuery(terms=("red", "blue"))):
        a = [(int(r["doc_id"]), np.float32(r["score"])) for r in s_ex.search(q, 10, prune=False).collect()]
        b = [(int(r["doc_id"]), np.float32(r["score"])) for r in s_fr.search(q, 10, prune=False).collect()]
        assert a == b
    ex.postings.unpersist()


def test_delete_accumulates_and_accepts_dataframe(spark, built):
    d1 = built.delete_docs([5])
    d2 = d1.delete_docs(spark.createDataFrame([(6,)], "doc_id long"))
    assert sorted(r["doc_id"] for r in d2.deletes.collect()) == [5, 6]


def test_soft_deletes_reversible_and_retained(spark, built):
    base = Searcher(built, dtype=np.float32)
    top = base.search(TermQuery(term="spark"), 5, prune=False).collect()
    victim = int(top[0]["doc_id"])
    soft = built.soft_delete_docs([victim])
    s = Searcher(soft, dtype=np.float32)
    # excluded from matching, stats untouched (like hard tombstones)
    assert victim not in _ids(s.search(TermQuery(term="spark"), 10, prune=False))
    assert soft.stats.doc_count == built.stats.doc_count
    # hard expunge does NOT drop soft-deleted docs (retention policy)
    merged = soft.delete_docs([victim + 1 if victim + 1 < 300 else 0]).expunge_deletes()
    assert merged.soft_deletes is not None
    # reversible: undelete restores the doc with its original score
    restored = Searcher(soft.undelete_all_soft(), dtype=np.float32)
    got = restored.search(TermQuery(term="spark"), 5, prune=False).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in top
    ]
    # expunge_soft_deletes physically drops them
    gone = soft.expunge_soft_deletes()
    assert gone.soft_deletes is None and gone.deletes is None
    assert gone.stats.doc_count == built.stats.doc_count - 1
    assert victim not in _ids(
        Searcher(gone, dtype=np.float32).search(TermQuery(term="spark"), 10,
                                                prune=False)
    )


def test_update_doc_values_without_reindex(spark, built):
    upd = spark.createDataFrame([(0, 777), (1, 888)], "doc_id long, length long")
    idx2 = built.update_doc_values("length", upd)
    rows = {r["doc_id"]: r["length"]
            for r in idx2.docs.filter("doc_id < 3").collect()}
    orig = {r["doc_id"]: r["length"]
            for r in built.docs.filter("doc_id < 3").collect()}
    assert rows[0] == 777 and rows[1] == 888 and rows[2] == orig[2]
    # postings untouched: same query scores (updates only affect doc values)
    a = Searcher(built, dtype=np.float32).search(TermQuery(term="red"), 5,
                                                 prune=False).collect()
    b = Searcher(idx2, dtype=np.float32).search(TermQuery(term="red"), 5,
                                                prune=False).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]
    with pytest.raises(ValueError):
        built.update_doc_values("nope", upd)


def test_drill_down_and_sideways(spark, built):
    from pyspark.sql import functions as F

    from lucene_spark.functions import facets

    dims = built.docs.select(
        "doc_id",
        (F.col("doc_id") % 3).cast("string").alias("lang"),
        (F.col("doc_id") % 2).cast("string").alias("src"),
    )
    s = Searcher(built, dtype=np.float32)
    base = s.matches(TermQuery(term="spark"))
    filters = {"lang": ["0", "1"], "src": ["0"]}
    dd = facets.drill_down(base, dims, filters)
    base_ids = set(_ids(base.select("doc_id")))
    exp_dd = {i for i in base_ids if i % 3 in (0, 1) and i % 2 == 0}
    assert set(_ids(dd.select("doc_id"))) == exp_dd
    side = facets.drill_sideways(base, dims, filters, ["lang", "src"]).collect()
    got = {(r["dim"], r["label"]): r["cnt"] for r in side}
    # lang counts: src filter applied, lang filter lifted -> label '2' present
    exp_lang = {}
    for i in base_ids:
        if i % 2 == 0:
            exp_lang[str(i % 3)] = exp_lang.get(str(i % 3), 0) + 1
    for lbl, c in exp_lang.items():
        assert got[("lang", lbl)] == c
    # src counts: lang filter applied, src filter lifted -> label '1' present
    exp_src = {}
    for i in base_ids:
        if i % 3 in (0, 1):
            exp_src[str(i % 2)] = exp_src.get(str(i % 2), 0) + 1
    for lbl, c in exp_src.items():
        assert got[("src", lbl)] == c


def test_write_read_index_persists_tombstones(spark, built, tmp_path):
    from lucene_spark.build import read_index, write_index

    idx = built.delete_docs([1, 2]).soft_delete_docs([5])
    path = str(tmp_path / "idx_tombs")
    write_index(idx, path)
    reopened = read_index(spark, path)
    s = Searcher(reopened, dtype=np.float32)
    hits = set(_ids(s.matches(TermQuery(term="the")).select("doc_id")))
    assert not ({1, 2, 5} & hits)
    # stats unchanged by tombstones (delete semantics preserved on reopen)
    assert reopened.stats.doc_count == built.stats.doc_count
    # an index without tombstones reads back with none
    path2 = str(tmp_path / "idx_clean")
    write_index(built, path2)
    clean = read_index(spark, path2)
    assert clean.deletes is None and clean.soft_deletes is None


def test_tombstone_snapshot_capacity_gated(spark, built, monkeypatch):
    """Above LUCENE_SPARK_DRIVER_META_MAX the Searcher must not build a
    driver tombstone array, must not broadcast-hint the anti-join, and must
    still exclude deleted docs via the distributed path."""
    base = Searcher(built, dtype=np.float32)
    top = base.search(TermQuery(term="spark"), 5, prune=False).collect()
    victim = int(top[0]["doc_id"])
    deleted = built.delete_docs([victim, victim + 1, 0, 1, 2])

    monkeypatch.setenv("LUCENE_SPARK_DRIVER_META_MAX", "3")
    s = Searcher(deleted, dtype=np.float32)
    assert s._deleted is None and s._tombs_over_cap
    # hot driver tier declined (it cannot filter deletes without a snapshot)
    p = s.plan(TermQuery(term="spark"), 5)
    assert p.tier != "hot"
    assert ("hot", "tombstones over driver cap") in p.declined
    # plan: the left-anti against the tombstones carries no broadcast hint
    df = s.matches(TermQuery(term="spark"))
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "broadcast" not in plan.lower()
    # distributed path still excludes the deleted docs
    got = _ids(s.search(TermQuery(term="spark"), 5))
    assert victim not in got

    # under the cap: snapshot built, hint kept
    monkeypatch.setenv("LUCENE_SPARK_DRIVER_META_MAX", "100000")
    s2 = Searcher(deleted, dtype=np.float32)
    assert s2._deleted is not None and not s2._tombs_over_cap
    df2 = s2.matches(TermQuery(term="spark"))
    plan2 = df2._jdf.queryExecution().analyzed().toString()
    assert "broadcast" in plan2.lower()
    assert _ids(s2.search(TermQuery(term="spark"), 4)) == _ids(
        s.search(TermQuery(term="spark"), 4)
    )


def test_hot_top_docs_with_tombstones_equal_spark_tier(spark, built, monkeypatch):
    """Every hot shape filters the sorted tombstone snapshot in _rank_rows:
    with the top hits of each shape deleted, driver-side top_docs must equal
    the Spark tier's search().collect(). Over the driver cap there is no
    snapshot: the planner declines the hot tier, and top_docs still equals
    search(prune=False) without a deleted doc."""
    t = lambda w: TermQuery(term=w)
    queries = [
        t("spark"),
        bool_query(should=[t("spark"), t("merge"), t("red")]),
        bool_query(must=[t("spark"), t("merge")]),
        SynonymQuery(terms=("red", "blue")),
        DisjunctionMaxQuery(disjuncts=(t("spark"), t("blue")), tie_breaker=0.1),
        BlendedTermQuery(terms=("merge", "red"), boosts=(1.0, 2.0), tie_breaker=0.1),
        PhraseQuery(terms=("the", "spark")),
        PhraseQuery(terms=("the", "spark", "merge"), slop=3),
        PhraseQuery(terms=("the", "spark", "the"), slop=4),
    ]
    base = Searcher(built, dtype=np.float32)
    victims = sorted({
        int(r["doc_id"])
        for q in queries
        for r in base.search(q, 2, prune=False).collect()
    })
    deleted = built.delete_docs(victims)
    monkeypatch.setenv("LUCENE_SPARK_HOT_CACHE_POSTINGS", "1000000")
    for cap in (None, "3"):
        if cap is not None:
            monkeypatch.setenv("LUCENE_SPARK_DRIVER_META_MAX", cap)
        s = Searcher(deleted, dtype=np.float32)
        assert s._tombs_over_cap == (cap is not None)
        if cap is None:
            assert s._deleted.tolist() == victims
        for q in queries:
            p = s.plan(q, 10)
            if cap is None:
                assert p.tier == "hot" and p.declined == [], q
            else:
                assert p.declined[0] == ("hot", "tombstones over driver cap"), q
            got = s.top_docs(q, 10)
            want = [
                (int(r["doc_id"]), float(r["score"]))
                for r in s.search(q, 10, prune=False).collect()
            ]
            assert [d for d, _ in got] == [d for d, _ in want], (cap, q)
            assert [np.float32(v) for _, v in got] == [
                np.float32(v) for _, v in want
            ], (cap, q)
            assert not set(victims) & {d for d, _ in got}, (cap, q)
