"""Physical-plan audits: the properties we claim about execution must show
up in `explain` output — filters pushed to Parquet, small sides broadcast,
no Python UDFs in JVM-only paths, whole-stage codegen on the hot relational
ops. These pin the scale story (a plan regression fails loudly)."""

import numpy as np
import pytest

from lucene_spark.build import IndexConfig, build_index, write_index, read_index
from lucene_spark.query import TermQuery, bool_query
from lucene_spark.search import Searcher


@pytest.fixture(scope="module")
def written(spark, tmp_path_factory):
    from lucene_spark.corpus import generate_corpus

    corpus = generate_corpus(spark, 600, num_partitions=8).persist()
    corpus.count()
    idx = build_index(
        corpus, IndexConfig(chain="code", seg_size=128, with_positions=False),
        order_cols=["repo", "path"], auto_seg_size=False, eager=True,
    )
    path = str(tmp_path_factory.mktemp("planidx"))
    write_index(idx, path)
    ridx = read_index(spark, path)
    yield ridx
    idx.unpersist()
    corpus.unpersist()


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_term_filter_pushed_to_parquet(written):
    plan = _plan(written.postings.filter("term = 'def'"))
    assert "PushedFilters" in plan
    assert "IsNotNull(term)" in plan or "EqualTo(term,def)" in plan
    # column pruning: a narrow projection must not read the heavy enc columns
    plan2 = _plan(written.postings.filter("term = 'def'").select("term", "count"))
    rs = [ln for ln in plan2.splitlines() if "ReadSchema" in ln]
    assert rs and "docs_enc" not in rs[0]


def test_docs_range_filter_pushdown(written):
    plan = _plan(written.docs.filter("doc_id BETWEEN 10 AND 20"))
    assert "PushedFilters" in plan and "GreaterThanOrEqual(doc_id,10)" in plan


def test_matchall_count_has_no_python(written):
    s = Searcher(written, dtype=np.float32)
    from lucene_spark.query import MatchAllDocsQuery

    plan = _plan(s.matches(MatchAllDocsQuery()))
    assert "Python" not in plan  # pure JVM: scan + project
    assert "codegen id" in plan  # inside a whole-stage codegen span


def test_boolean_agg_is_partial_aggregated(written):
    # MUST-of-terms evaluates as groupBy(doc).sum — partial (map-side)
    # aggregation must appear before the exchange
    s = Searcher(written, dtype=np.float32)
    q = bool_query(must=[TermQuery(term="def"), TermQuery(term="merge")])
    plan = _plan(s.matches(q))
    assert "HashAggregate" in plan and "Exchange" in plan
    pre, _, _post = plan.partition("Exchange")
    assert "HashAggregate" in pre  # partial agg upstream of the shuffle


def test_suggest_prefix_pushdown(written):
    from lucene_spark.functions.suggest import suggest_prefix

    plan = _plan(suggest_prefix(written.terms, "de", 5))
    assert "PushedFilters" in plan
    assert "StringStartsWith(term,de)" in plan
    # top-k is a TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_multi_term_semi_join_no_collect(written):
    from lucene_spark.query import PrefixQuery

    s = Searcher(written, dtype=np.float32)
    plan = _plan(s.matches(PrefixQuery(prefix="de")))
    # distributed expansion: postings semi-joined against the filtered terms
    assert "LeftSemi" in plan
    # the prefix predicate reaches the terms-table Parquet scan
    assert "StringStartsWith(term,de)" in plan


def test_span_or_is_jvm_only(written):
    # SpanOrQuery freq aggregation never leaves the JVM except the block
    # decoder itself; the aggregation layer shows partial HashAggregates
    from lucene_spark.query import SpanOrQuery

    s = Searcher(written, dtype=np.float32)
    plan = _plan(s.matches(SpanOrQuery(terms=("def", "merge"))))
    assert "HashAggregate" in plan


def test_jaccard_prefix_filter_in_plan(spark):
    # the candidate join reads from the rank-filtered prefix, not raw tokens:
    # the plan must contain the window rank filter upstream of the self-join
    from lucene_spark.functions.dedup import jaccard_pairs

    df = spark.createDataFrame(
        [(i, f"common u{i}a u{i}b") for i in range(20)], "doc_id long, text string"
    )
    plan = _plan(jaccard_pairs(df, "doc_id", "text", min_sim=0.8))
    assert "row_number" in plan or "RunningWindowFunction" in plan or "Window" in plan


def test_point_range_pushdown(written):
    from lucene_spark.query import PointInSetQuery, PointRangeQuery

    s = Searcher(written, dtype=np.float32)
    plan = _plan(s.matches(PointRangeQuery(field_col="length", lower=5, upper=50)))
    # the numeric range reaches the docs Parquet scan (the BKD-tree role)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(length,5" in plan and "LessThanOrEqual(length,50" in plan
    assert "Python" not in plan  # pure JVM
    plan2 = _plan(s.matches(PointInSetQuery(field_col="length", values=(7, 9))))
    assert "In(length," in plan2


def test_index_sort_persisted_and_early_terminated(written):
    # order_cols build declares the index sort and survives the commit point
    assert written.index_sort == ("repo", "path")
    s = Searcher(written, dtype=np.float64)
    # the frontier predicate reaches the postings Parquet scan
    s._block_pred = __import__("pyspark.sql.functions", fromlist=["col"]).col(
        "base_doc"
    ) < 64
    try:
        plan = _plan(s.matches(TermQuery(term="def")))
    finally:
        s._block_pred = None
    assert any(
        "base_doc" in l for l in plan.splitlines() if "PushedFilters" in l
    ), plan[:2000]

    # sorted top-k == brute sort of the full match set, both directions
    q = TermQuery(term="def")
    full = [
        int(r["doc_id"])
        for r in s.matches(q).select("doc_id").distinct().orderBy("doc_id").collect()
    ]
    got_asc = [int(r["doc_id"]) for r in s.search_sorted(q, 7).collect()]
    assert got_asc == full[:7]
    # a common term fills k in the first frontier probe (the early exit)
    assert s._last_sorted_probe["probes"] == 1
    assert s._last_sorted_probe["bound"] < written.stats.doc_count or written.stats.doc_count <= 1024
    got_desc = [int(r["doc_id"]) for r in s.search_sorted(q, 7, ascending=False).collect()]
    assert got_desc == list(reversed(full))[:7]
    # rare term: frontier widens but result stays exact
    rare_rows = written.terms.filter("doc_freq <= 3 AND doc_freq >= 1").limit(1).collect()
    if rare_rows:
        rq = TermQuery(term=rare_rows[0]["term"])
        fullr = [
            int(r["doc_id"])
            for r in s.matches(rq).select("doc_id").distinct().orderBy("doc_id").collect()
        ]
        gotr = [int(r["doc_id"]) for r in s.search_sorted(rq, 5).collect()]
        assert gotr == fullr[:5]


def test_nested_regexp_prefix_pushdown(written):
    """The derivative-DFA fallback for nested automaton ops must keep its
    structural prefilters JVM-side: the forced literal prefix reaches the
    Parquet scan as StringStartsWith and the Python kernel sits ABOVE the
    pruned scan, never over the raw terms table."""
    from lucene_spark.query import RegexpQuery

    s = Searcher(written, dtype=np.float32)
    q = RegexpQuery(regexp="d(.*e.*&~(x.*))")  # nested ops, prefix 'd'
    plan = _plan(written.terms.filter(s._multi_term_cond(q)))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "StringStartsWith(term,d)" in pushed[0], plan[:2000]
    assert "pythonUDF" in plan or "Python" in plan  # the DFA kernel


def test_function_score_expression_is_jvm_only(written):
    """FunctionScoreQuery: the compiled expression must stay inside
    whole-stage codegen — no Python evaluation anywhere in the rescore
    (the expression compiles to Catalyst columns, not a UDF)."""
    from lucene_spark.expressions import SCORE
    from lucene_spark.query import FunctionScoreQuery, TermQuery

    s = Searcher(written, dtype=np.float32)
    q = FunctionScoreQuery(
        query=TermQuery(term="def"),
        expression="0.5*score + sqrt(max(score, 1))",
        bindings=(("score", SCORE),),
    )
    plan = _plan(s.matches(q))
    assert "Python" not in plan, plan[:2000]
    assert "codegen id" in plan


def test_payload_parse_is_jvm_only(spark):
    """DelimitedPayloadTokenFilter parsing + the payload aggregate are
    pure Catalyst (split/transform/try_cast + hash aggregate): no Python
    stage may appear."""
    from lucene_spark.functions.payloads import (
        parse_delimited_payloads,
        payload_score,
    )

    docs = spark.createDataFrame(
        [(0, "a|1.0 b|2.0"), (1, "b|0.5 c")], "doc_id long, text string"
    )
    tbl = parse_delimited_payloads(docs, "doc_id", "text")
    plan = _plan(payload_score(tbl, "b", "avg"))
    # the createDataFrame fixture source mentions applySchemaToPythonRDD,
    # so assert the absence of actual Python EXECUTION operators
    for op in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert op not in plan, plan[:2000]


def test_sq8_scoring_is_arrow_gemm_no_candidate_shuffle(spark):
    """SQ8 search: quantization is a Catalyst transform (JVM-exact codes,
    shared with the oracle), scoring is one Arrow-batched numpy GEMM
    (MapInPandas — never row-at-a-time Python), and the candidate side
    reaches the scorer without a shuffle (no Exchange below the
    MapInPandas; only the tiny per-query top-k partials shuffle)."""
    import numpy as np
    import pandas as pd
    import lucene_spark.functions.simsearch as fsim

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(200, 8)).astype(np.float32)
    emb = spark.createDataFrame(
        pd.DataFrame({
            "vec_id": np.arange(200, dtype=np.int64),
            "embedding": [v for v in vecs],
        })
    )
    mn, mx = fsim.sq8_bounds(emb)
    plan = _plan(fsim.sq8_topk(emb, [0, 1], k=3, bounds=(mn, mx)))
    assert "MapInPandas" in plan, plan[:2000]
    assert "BatchEvalPython" not in plan, plan[:2000]  # no row-at-a-time UDF
    # the candidate scan feeds the GEMM directly: no Exchange between the
    # MapInPandas scorer and its scan input (the only shuffle is the
    # k-bounded per-query partial top-k going into the final window)
    below_scorer = plan[plan.index("MapInPandas"):].split("Scan")[0]
    assert "Exchange" not in below_scorer, plan[:2000]


def test_blockjoin_parent_map_window_is_partitioned(spark):
    """The block-join parent map must never plan a GLOBAL window (single
    task at scale): its window is partitioned by the doc_id bucket, and
    the bucket-boundary fixup joins as a broadcast."""
    from lucene_spark.build import IndexConfig, build_index
    from lucene_spark.search import Searcher

    df = spark.createDataFrame(
        [(i, "red" if i % 5 != 4 else "marker") for i in range(100)],
        "doc_id long, text string",
    )
    idx = build_index(
        df, IndexConfig(seg_size=32, with_positions=False),
        content_col="text", doc_id_col="doc_id",
        auto_seg_size=False, eager=True,
    )
    s = Searcher(idx, dtype=np.float32)
    pm = s._parent_map("doc_id % 5 = 4")
    plan = _plan(pm)
    specs = plan.split("windowspecdefinition(")[1:]
    assert specs, plan[:2000]
    # every window spec partitions by the bucket: no empty partition spec
    assert all(sp.startswith("__bkt") for sp in specs), plan[:3000]
    assert "Broadcast" in plan
    idx.unpersist()


def test_fuzzy_ngram_candidates_plan(written):
    """The q-gram prefilter joins the tiny query-gram table as a
    BROADCAST and aggregates per term — no Python in the candidate plan
    (the gram table itself is pure JVM over the parquet terms scan)."""
    from lucene_spark.query import FuzzyQuery

    s = Searcher(written, dtype=np.float32)
    s.enable_fuzzy_ngram_index(n=2)
    cand = s._fuzzy_ngram_candidates(FuzzyQuery(term="exemple", max_edits=1))
    plan = _plan(cand)
    assert "Broadcast" in plan, plan[:2000]
    for op in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert op not in plan, plan[:2000]
