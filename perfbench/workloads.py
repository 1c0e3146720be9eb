"""The benchmark's workloads, driven through lucene_spark's public API from
one process with one closed-loop client (each call is issued only after the
previous one returned).

- ``ingest_code``: warm fused builds of the code corpus plus ``write_index``,
  freqs-only and positional indexes in turn.
- ``query_hot``: top-10 queries served from the warm driver caches.

Every run checks every result against the brute-force oracle in
``tests/oracle.py``. Traced runs (``--trace 1``) add spans around each layer
call, the Spark event log, Spark-free kernel timings on the run's own inputs
and two sections whose numbers are per-layer only: on ``ingest_code`` one
append/delete/refresh/merge cycle, on ``query_hot`` the same query stream
on the Spark tier (driver caches capped to zero: distributed WAND, full
evaluation and the query cache).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from typing import Dict, List

import numpy as np

from common import Tracer, kind_gmean_ms, p50_by_kind, summarize

N_DOCS = 2000       # corpus rows per run
# Spark task slots. Two leave room for the driver JVM and Python on a small
# shared host: at local[4] on 4 vCPUs the build times followed CPU steal
# from other tenants (2.9-4.2 s across seeds), at local[2] they stayed
# within 10% of each other.
CORES = min(2, os.cpu_count() or 1)
SETUP_PASSES = 3    # corpus set-up repetitions; setup_s takes their median
NRT_BATCH = 200     # docs appended by the traced update cycle
NRT_DELETES = 12    # docs tombstoned by the traced update cycle
WARM_HEAD = 5       # most popular queries per shape in a query_hot warm-up pass

WHY = {
    "ingest_code": "warm fused builds plus write_index, freqs-only and positional: "
                   "analysis, invert, codec encode, exchange and storage; no search",
    "query_hot": "Zipf top-10 stream over shapes the warm driver caches serve: "
                 "search, bm25 and matchers with zero Spark jobs",
}

_SPARK_CAPS = {
    # the existing driver-cache knobs, read at call time: no hot postings, no
    # driver-side block bounds, and WAND even on a small index
    "LUCENE_SPARK_HOT_CACHE_POSTINGS": "0",
    "LUCENE_SPARK_DRIVER_META_MAX": "0",
    "LUCENE_SPARK_MIN_PRUNABLE": "0",
}


class Run:
    """State and results of one benchmark run."""

    def __init__(self, seed: int, seconds: float, trace: bool,
                 work_dir: str, event_dir: str) -> None:
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.work_dir, self.event_dir = work_dir, event_dir
        self.attempted = 0
        self.failed = 0
        self.problems: List[str] = []
        self.setup_parts: Dict[str, float] = {}
        self.report: Dict[str, object] = {}
        self.op_s: List[float] = []  # timed operation latencies
        self.op_kind: List[str] = []  # the kind (query shape, index type) of each
        self.layer: Dict[str, float] = {}
        self.tracer = Tracer()

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(msg)

    @property
    def setup_s(self) -> float:
        p = self.setup_parts
        return (p["session_s"] + statistics.median(p["corpus_pass_s"])
                + p.get("index_s", 0.0) + p.get("open_s", 0.0) + p["warmup_s"])


# ---------------------------------------------------------------- set-up


def start_session(run: Run):
    from lucene_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app="perfbench", cores=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    run.setup_parts["session_s"] = time.perf_counter() - t0
    run.tracer = Tracer(spark.sparkContext, enabled=run.trace)
    return spark


def _corpus(run: Run, spark):
    """Generate and sha256-verify the seeded corpus SETUP_PASSES times (the
    first pass also warms the Python workers); keep the last one. Returns the
    corpus frame and its contents in doc_id order (by repo, path)."""
    from lucene_spark.corpus import generate_corpus, sha256_sidecar, verify_sha256

    passes, corpus = [], None
    for _ in range(SETUP_PASSES):
        if corpus is not None:
            corpus.unpersist()
        t0 = time.perf_counter()
        with run.tracer.span("corpus.gen"):
            corpus = generate_corpus(spark, N_DOCS, seed=run.seed, num_partitions=8).persist()
            corpus.count()
        with run.tracer.span("corpus.verify"):
            verify_sha256(corpus, sha256_sidecar(corpus))
        passes.append(time.perf_counter() - t0)
    run.setup_parts["corpus_pass_s"] = passes
    rows = corpus.select("repo", "path", "content").collect()
    contents = [r["content"] for r in sorted(rows, key=lambda r: (r["repo"], r["path"]))]
    return corpus, contents


def _oracle(run: Run, contents):
    import pool as qp

    t0 = time.perf_counter()
    o = qp.Oracle(contents)
    run.report["oracle_build_s"] = time.perf_counter() - t0
    return o


def _build(run: Run, corpus, positions: bool):
    from lucene_spark.build import IndexConfig, build_index

    with run.tracer.span("build", positions=positions):
        return build_index(corpus, IndexConfig(chain="code", with_positions=positions),
                           order_cols=["repo", "path"], eager=True)


# ---------------------------------------------------------------- ingest


def _dir_bytes(path: str):
    total, files = 0, 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def ingest_code(run: Run, spark) -> None:
    from lucene_spark.build import write_index

    corpus, contents = _corpus(run, spark)
    oracle = _oracle(run, contents)
    input_bytes = sum(len(c.encode()) for c in contents)
    want = (oracle.doc_count, oracle.sum_ttf, len(set().union(*oracle.tfs)))
    seq = [0]
    times = {False: [], True: []}
    written = {False: [], True: []}
    keep = {}

    def build_write(positions: bool, record: bool) -> float:
        seq[0] += 1
        path = os.path.join(run.work_dir, f"idx{seq[0]}")
        t0 = time.perf_counter()
        idx = _build(run, corpus, positions)
        with run.tracer.span("storage.write"):
            manifest = write_index(idx, path)
        dt = time.perf_counter() - t0
        # checks and bookkeeping stay outside the timed region
        got = (idx.stats.doc_count, idx.stats.sum_total_term_freq, idx.terms.count())
        run.attempted += 1
        if got != want or manifest["doc_count"] != want[0]:
            run.fail(f"build positions={positions}: (docs, sttf, terms) {got} != oracle {want}")
        if record:
            run.op_s.append(dt)
            run.op_kind.append("positional" if positions else "freqs")
            times[positions].append(dt)
            written[positions].append(_dir_bytes(path))
        old = keep.pop(positions, None)
        if old is not None:
            old.unpersist()
        keep[positions] = idx
        shutil.rmtree(path, ignore_errors=True)
        return dt

    # warm-up: build pairs until one pair is within 15% of the one before
    # (at least two pairs, at most three); its cost counts into setup_s
    t0 = time.perf_counter()
    pairs: List[float] = []
    while len(pairs) < 3:
        pairs.append(build_write(False, False) + build_write(True, False))
        if len(pairs) >= 2 and abs(pairs[-1] - pairs[-2]) <= 0.15 * pairs[-2]:
            break
    run.setup_parts["warmup_s"] = time.perf_counter() - t0
    run.report["warmup_ops"] = 2 * len(pairs)

    t_end = time.perf_counter() + run.seconds
    while time.perf_counter() < t_end:
        build_write(False, True)
        build_write(True, True)

    def docs_per_s(ts):
        return N_DOCS / statistics.median(ts)

    def ratio(ws):
        return statistics.median(b for b, _ in ws) / input_bytes

    run.report.update({
        "ingest_docs_per_s": {"value": docs_per_s(times[False]), "unit": "docs/s",
                              "n": len(times[False])},
        "ingest_pos_docs_per_s": {"value": docs_per_s(times[True]), "unit": "docs/s",
                                  "n": len(times[True])},
        "index_bytes_per_input_byte": {"value": ratio(written[False]), "unit": "ratio"},
        "index_bytes_per_input_byte_pos": {"value": ratio(written[True]), "unit": "ratio"},
    })
    if run.trace:
        all_w = written[False] + written[True]
        run.layer["storage.index_mb"] = statistics.fmean(b for b, _ in all_w) / 1e6
        run.layer["storage.files"] = statistics.fmean(f for _, f in all_w)
        _instrument_search(run)
        _nrt_cycle(run, spark, keep[False], contents)
        _kernels(run, keep[True], contents, oracle)


def _nrt_cycle(run: Run, spark, base, contents) -> None:
    """One near-real-time update on the freqs-only index: append a seeded
    batch through the pre-assigned doc_id path, tombstone a few docs, open a
    fresh Searcher and query it, then merge with deletes dropped and query
    again. Every answer is checked against the oracle over base + batch."""
    from pyspark.sql import functions as F

    from lucene_spark.corpus import generate_corpus
    from lucene_spark.merge import append_documents, merge_segments
    from lucene_spark.search import Searcher

    import pool as qp

    batch = generate_corpus(spark, NRT_BATCH, seed=run.seed + 1, num_partitions=4).withColumn(
        "did", F.regexp_extract("path", r"file(\d+)", 1).cast("long")).persist()
    added = [r["content"] for r in sorted(batch.select("did", "content").collect(),
                                         key=lambda r: r["did"])]
    oracle = _oracle(run, contents + added)
    rng = np.random.default_rng(run.seed)
    deleted = frozenset(int(d) for d in rng.choice(N_DOCS + NRT_BATCH, NRT_DELETES, replace=False))
    pool = qp.build_pool(oracle, run.seed)
    queries = [(s, pool[s][0]) for s in qp.FLAT_SHAPES + ("dismax", "synonym", "blended")]

    def check(searcher, label):
        for shape, q in queries:
            run.attempted += 1
            with run.tracer.span("query", shape=shape, section="update"):
                got = searcher.top_docs(q, qp.K)
            if not qp.same(got, qp.expected(oracle, shape, q, deleted)):
                run.fail(f"{label} {shape} {q}: result differs from the oracle")

    t0 = time.perf_counter()
    with run.tracer.span("merge.append"):
        grown = append_documents(base, batch, doc_id_col="did")
    with run.tracer.span("merge.delete"):
        grown = grown.delete_docs(sorted(deleted))
    with run.tracer.span("search.open"):
        searcher = Searcher(grown, preload_stats=True)
    with run.tracer.span("query", shape="term", section="update"):
        searcher.top_docs(queries[0][1], qp.K)
    refresh = time.perf_counter() - t0
    check(searcher, "after append")
    t0 = time.perf_counter()
    with run.tracer.span("merge.merge"):
        merged = merge_segments(grown, drop_deletes=True)
        merged.postings.persist().count()
    merge_s = time.perf_counter() - t0
    check(Searcher(merged, preload_stats=True), "after merge")
    run.report["refresh_s"] = {"value": refresh, "unit": "s", "n": 1}
    run.report["merge_s"] = {"value": merge_s, "unit": "s", "n": 1}
    merged.postings.unpersist()
    batch.unpersist()


# ---------------------------------------------------------------- queries


def _open_searcher(run: Run, idx):
    from lucene_spark.search import Searcher

    t0 = time.perf_counter()
    with run.tracer.span("search.open"):
        s = Searcher(idx, preload_stats=True)
    run.setup_parts["open_s"] = time.perf_counter() - t0
    return s


def _fill_hot(searcher, queries, phrase_queries) -> None:
    """Fetch the postings of every term in ``queries`` and the positions of
    every term in ``phrase_queries`` with one call each: an OR over the
    terms fills the hot postings cache (or, with the driver caps at zero,
    the WAND metadata), a phrase over them the hot positions cache."""
    from lucene_spark.query import PhraseQuery, TermQuery, bool_query

    import pool as qp

    terms = list(dict.fromkeys(t for q in queries for t in qp.terms_of(q)))
    searcher.top_docs(bool_query(should=[TermQuery(term=t) for t in terms]), qp.K)
    pos = list(dict.fromkeys(t for q in phrase_queries for t in qp.terms_of(q)))
    if pos:
        searcher.top_docs(PhraseQuery(terms=tuple(pos)), qp.K)


def _query_stream(run: Run, searcher, pool, shapes, section: str,
                  min_ops: int = 0) -> List[tuple]:
    """The timed closed loop: (shape, query, result, latency_s) per op, for
    ``run.seconds`` and at least ``min_ops`` ops. Each op's span carries its
    section and the tier its shape must be served by."""
    import pool as qp

    ops = []
    gen = qp.stream(pool, shapes, run.seed)
    t_end = time.perf_counter() + run.seconds
    while time.perf_counter() < t_end or len(ops) < min_ops:
        shape, q = next(gen)
        tier = "hot" if section == "hot" else "wand" if shape in qp.FLAT_SHAPES else "eval"
        with run.tracer.span("query", shape=shape, section=section, tier=tier):
            t0 = time.perf_counter()
            got = searcher.top_docs(q, qp.K)
            dt = time.perf_counter() - t0
        ops.append((shape, q, got, dt))
    return ops


def _whole_rotations(ops, shapes) -> List[tuple]:
    """The ops of complete shape rotations, so every run summarizes the same
    shape mix (all ops when not even one rotation completed)."""
    return ops[:(len(ops) - len(ops) % len(shapes)) or len(ops)]


def _check_ops(run: Run, oracle, ops, label: str) -> None:
    import pool as qp

    want: Dict[tuple, list] = {}
    for shape, q, got, _dt in ops:
        run.attempted += 1
        key = (shape, q)
        if key not in want:
            want[key] = qp.expected(oracle, shape, q)
        if not qp.same(got, want[key]):
            run.fail(f"{label} {shape} {q}: top-{qp.K} differs from the oracle")


def query_hot(run: Run, spark) -> None:
    import pool as qp

    corpus, contents = _corpus(run, spark)
    t0 = time.perf_counter()
    idx = _build(run, corpus, positions=True)
    run.setup_parts["index_s"] = time.perf_counter() - t0
    corpus.unpersist()
    oracle = _oracle(run, contents)
    pool = qp.build_pool(oracle, run.seed)
    shapes = qp.HOT_SHAPES

    searcher = _open_searcher(run, idx)
    t0 = time.perf_counter()
    flat = [q for s in qp.SPARK_SHAPES if s not in qp.PHRASE_SHAPES for q in pool[s]]
    _fill_hot(searcher, flat, [q for s in qp.PHRASE_SHAPES for q in pool[s]])
    warm_ops = 2
    # passes over the pool heads until one is within 10% of the last
    passes: List[float] = []
    while len(passes) < 3:
        t1 = time.perf_counter()
        for s in shapes:
            for q in pool[s][:WARM_HEAD]:
                searcher.top_docs(q, qp.K)
        warm_ops += WARM_HEAD * len(shapes)
        passes.append(time.perf_counter() - t1)
        if len(passes) >= 2 and abs(passes[-1] - passes[-2]) <= 0.1 * passes[-2]:
            break
    run.setup_parts["warmup_s"] = time.perf_counter() - t0
    run.report["warmup_ops"] = warm_ops

    _instrument_search(run)
    ops = _query_stream(run, searcher, pool, shapes, "hot")
    timed = _whole_rotations(ops, shapes)
    run.op_s = [o[3] for o in timed]
    run.op_kind = [o[0] for o in timed]
    run.tracer.enabled = False  # checks are not part of the trace
    t0 = time.perf_counter()
    _check_ops(run, oracle, ops, "hot")
    run.report["check_s"] = time.perf_counter() - t0
    s = summarize(run.op_s)
    run.report["query_p50_ms"] = {"value": s["p50_ms"], "unit": "ms", "n": s["n"]}
    if "p90_ms" in s:
        run.report["query_p90_ms"] = {"value": s["p90_ms"], "unit": "ms", "n": s["n"]}
    if run.trace:
        run.tracer.enabled = True
        _spark_tier(run, idx, pool, oracle, searcher)
        _kernels(run, idx, contents, oracle)


def _spark_tier(run: Run, idx, pool, oracle, hot) -> None:
    """Traced runs only: the same pool on a Searcher whose driver caches are
    capped to zero (an index too large for the driver), with the query
    cache on. Flat shapes must go to distributed WAND, the rest to full
    evaluation, and every answer must equal the oracle's and the hot
    tier's."""
    import pool as qp
    from lucene_spark.querycache import LRUQueryCache
    from lucene_spark.search import Searcher

    shapes = qp.SPARK_SHAPES
    saved = {k: os.environ.get(k) for k in _SPARK_CAPS}
    os.environ.update(_SPARK_CAPS)
    cache = LRUQueryCache(min_docs_to_cache=0)
    try:
        with run.tracer.span("search.open"):
            searcher = Searcher(idx, preload_stats=True, query_cache=cache)
        # warm-up: one call fetches the WAND metadata of every pool term;
        # one query per remaining plan shape compiles it; the caching policy
        # admits the shared filter on its second use
        flat = [q for s in shapes if s not in qp.PHRASE_SHAPES for q in pool[s]]
        _fill_hot(searcher, flat, [])
        for s in shapes:
            if s not in ("term", "or2", "or3", "sloppy"):
                searcher.top_docs(pool[s][-1], qp.K)
        searcher.top_docs(pool["filter"][-2], qp.K)
        ops = _query_stream(run, searcher, pool, shapes, "spark", min_ops=len(shapes))
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
    run.tracer.enabled = False
    _check_ops(run, oracle, ops, "spark")
    for shape, q, got, _dt in {(o[0], o[1]): o for o in ops}.values():
        if shape in qp.HOT_SHAPES:
            run.attempted += 1
            if not qp.same(hot.top_docs(q, qp.K), got):
                run.fail(f"{shape} {q}: hot tier and Spark tier disagree")
    run.tracer.enabled = True
    timed = _whole_rotations(ops, shapes)
    run.layer["spark.op_p50_ms"] = kind_gmean_ms([o[0] for o in timed], [o[3] for o in timed])
    run.layer["querycache.hit_ratio"] = cache.hit_count / max(1, cache.hit_count + cache.miss_count)
    run.layer["querycache.evictions"] = float(cache.eviction_count)
    run.layer["querycache.ram_mb"] = cache.ram_bytes_used() / 1e6
    run.report["spark_ms_by_shape"] = p50_by_kind([o[0] for o in ops], [o[3] for o in ops])


# ---------------------------------------------------------------- tracing


def _instrument_search(run: Run) -> None:
    """Spans around the search-side layer entry points (traced runs only)."""
    if not run.trace:
        return
    from lucene_spark import prune
    from lucene_spark.search import Searcher

    tr = run.tracer

    def mark_rows(rec, out):
        rec["attrs"]["rows"] = out is not None

    tr.wrap(prune, "try_pruned_topk_rows", "prune", mark_rows)
    tr.wrap(Searcher, "decode_raw", "search.decode_raw")
    tr.wrap(Searcher, "term_stats", "search.term_stats")
    tr.wrap(Searcher, "_ensure_hot", "search.hot_fill")
    tr.wrap(Searcher, "_ensure_hot_positions", "search.hot_fill")


def _time_kernel(fn, budget_s: float = 0.3) -> tuple:
    """(calls, seconds): repeat fn until budget_s has elapsed."""
    calls, t0 = 0, time.perf_counter()
    while True:
        fn()
        calls += 1
        dt = time.perf_counter() - t0
        if dt >= budget_s:
            return calls, dt


def _kernels(run: Run, idx, contents, oracle) -> None:
    """Spark-free kernel rates on this run's own corpus and index blocks."""
    import pandas as pd
    from pyspark.sql import functions as F

    from lucene_spark import codec, matchers
    from lucene_spark.analysis import flat_tokenize
    from lucene_spark.bm25 import term_scorer

    import pool as qp

    L = run.layer
    texts = pd.Series(contents[:500])
    n_tok = len(flat_tokenize(texts, "code")[0])
    calls, dt = _time_kernel(lambda: flat_tokenize(texts, "code"))
    L["analysis.tokens_per_s"] = n_tok * calls / dt
    L["analysis.mb_per_s"] = sum(len(t.encode()) for t in texts) * calls / dt / 1e6

    blocks = idx.postings.filter(F.col("count") > 1).limit(2000).toPandas()
    rows = list(blocks.itertuples(index=False))
    n_post = int(blocks["count"].sum())
    decoded = [codec.decode_block_row(r) for r in rows]
    calls, dt = _time_kernel(lambda: [codec.decode_block_row(r) for r in rows])
    L["codec.decode_mints_per_s"] = 3 * n_post * calls / dt / 1e6

    def encode():
        for r, (d, f, n) in zip(rows, decoded):
            codec.delta_encode_docs(d, int(r.base_doc))
            codec.pfor_encode(f.astype(np.uint32))
            n.astype(np.uint8).tobytes()

    calls, dt = _time_kernel(encode)
    L["codec.encode_mints_per_s"] = 3 * n_post * calls / dt / 1e6
    if idx.config.with_positions:
        pos = [(bytes(r.pos_enc), f) for r, (_d, f, _n) in zip(rows, decoded)]
        n_pos = sum(int(f.sum()) for _p, f in pos)
        calls, dt = _time_kernel(lambda: [codec.decode_positions(p, f) for p, f in pos])
        L["codec.pos_decode_mints_per_s"] = n_pos * calls / dt / 1e6
    enc = idx.postings.agg(
        F.sum("count").alias("postings"),
        F.sum(F.coalesce(F.length("docs_enc"), F.lit(0)) + F.coalesce(F.length("freqs_enc"), F.lit(0))
              + F.coalesce(F.length("norms_enc"), F.lit(0))
              + F.coalesce(F.length("pos_enc"), F.lit(0))).alias("bytes"),
    ).collect()[0]
    L["codec.bytes_per_posting"] = enc["bytes"] / enc["postings"]

    freqs = np.concatenate([f for _d, f, _n in decoded])
    norms = np.concatenate([n for _d, _f, n in decoded])
    scorer = term_scorer(1.0, max(1, N_DOCS // 2), idx.stats)
    calls, dt = _time_kernel(lambda: scorer.score(freqs, norms))
    L["bm25.score_mpostings_per_s"] = len(freqs) * calls / dt / 1e6

    pool = qp.build_pool(oracle, run.seed)
    for key, shape, fn in (
        ("matchers.exact_phrase_mdocs_per_s", "phrase",
         lambda p, q, n: matchers.exact_phrase_freqs(p, q.terms, n)),
        ("matchers.sloppy_phrase_mdocs_per_s", "sloppy",
         lambda p, q, n: matchers.sloppy_phrase_freqs(p, q.terms, q.slop, n)),
    ):
        q = pool[shape][0]
        cand = [d for d in range(oracle.doc_count)
                if all(t in oracle.positions[d] for t in q.terms)]
        pbt = {t: [np.asarray(oracle.positions[d][t], dtype=np.int64) for d in cand]
               for t in q.terms}
        calls, dt = _time_kernel(lambda: fn(pbt, q, len(cand)))
        L[key] = len(cand) * calls / dt / 1e6


WORKLOADS = {"ingest_code": ingest_code, "query_hot": query_hot}


# ---------------------------------------------------------------- per layer

PER_LAYER = {
    "corpus.gen_s": "s", "corpus.verify_s": "s",
    "analysis.tokens_per_s": "1/s", "analysis.mb_per_s": "MB/s",
    "build.s": "s", "build.spark_jobs": "count", "build.spark_tasks": "count",
    "build.executor_cpu_s": "s", "build.gc_s": "s", "build.shuffle_write_mb": "MB",
    "build.spill_mb": "MB", "build.python_in_mb": "MB", "build.python_out_mb": "MB",
    "codec.encode_mints_per_s": "Mints/s", "codec.decode_mints_per_s": "Mints/s",
    "codec.pos_decode_mints_per_s": "Mints/s", "codec.bytes_per_posting": "B",
    "storage.write_s": "s", "storage.index_mb": "MB", "storage.files": "count",
    "search.open_s": "s", "search.term_stats_s": "s", "search.hot_fills": "count",
    "search.hot_fill_s": "s", "search.hot_share": "ratio",
    "search.spark_hot_share": "ratio", "search.eval_share": "ratio",
    "search.spark_jobs_per_query": "count", "search.spark_stages_per_query": "count",
    "spark.op_p50_ms": "ms",
    "prune.wand_share": "ratio", "prune.s": "s", "prune.declined": "count",
    "bm25.score_mpostings_per_s": "Mpostings/s",
    "matchers.exact_phrase_mdocs_per_s": "Mdocs/s",
    "matchers.sloppy_phrase_mdocs_per_s": "Mdocs/s",
    "querycache.hit_ratio": "ratio", "querycache.evictions": "count",
    "querycache.ram_mb": "MB",
    "merge.append_s": "s", "merge.delete_s": "s", "merge.s": "s",
    "merge.executor_cpu_s": "s", "merge.shuffle_write_mb": "MB", "merge.spill_mb": "MB",
    "merge.python_in_mb": "MB",
    "setup.warmup_ops": "count",
    "trace.op_p50_ms": "ms", "trace.setup_s": "s",
    "host.loadavg_before": "load", "host.loadavg_after": "load",
    "host.alu_mips_before": "Mops/s", "host.alu_mips_after": "Mops/s",
}


def layer_metrics(run: Run) -> Dict[str, float]:
    """Per-layer numbers of a traced run, after its event log is closed.
    Spark counters are per call of the layer. ``search.hot_*`` and
    ``search.term_stats_s`` cover the hot stream; ``search.spark_*``,
    ``search.eval_share`` and ``prune.*`` the Spark-tier stream. Fails the
    run when a query used another tier than its shape declares."""
    tr = run.tracer
    tr.attach_event_log(run.event_dir)
    L = dict.fromkeys(PER_LAYER, 0.0)
    L.update(run.layer)

    def per_call(name: str, key: str, scale: float = 1.0) -> float:
        t = tr.totals(name)
        return t.get(key, 0.0) / max(1, t["count"]) * scale

    walls = {n: [s["end"] - s["start"] for s in tr.spans if s["name"] == n]
             for n in ("corpus.gen", "corpus.verify")}
    for n, w in walls.items():
        L[n + "_s"] = statistics.median(w) if w else 0.0
    for prefix, span in (("build", "build"), ("merge", "merge.merge")):
        L[prefix + ".executor_cpu_s"] = per_call(span, "executor_cpu_s")
        L[prefix + ".shuffle_write_mb"] = per_call(span, "shuffle_write_b", 1e-6)
        L[prefix + ".spill_mb"] = per_call(span, "spill_b", 1e-6)
        L[prefix + ".python_in_mb"] = per_call(span, "python_in_b", 1e-6)
    L["build.s"] = per_call("build", "wall_s")
    L["build.spark_jobs"] = per_call("build", "jobs")
    L["build.spark_tasks"] = per_call("build", "tasks")
    L["build.gc_s"] = per_call("build", "gc_s")
    L["build.python_out_mb"] = per_call("build", "python_out_b", 1e-6)
    L["storage.write_s"] = per_call("storage.write", "wall_s")
    L["search.open_s"] = per_call("search.open", "wall_s")
    L["merge.append_s"] = per_call("merge.append", "wall_s")
    L["merge.delete_s"] = per_call("merge.delete", "wall_s")
    L["merge.s"] = per_call("merge.merge", "wall_s")

    # per timed query: the tier that answered, inferred from outside (zero
    # Spark jobs = hot; prune.try_pruned_topk_rows returned rows = WAND;
    # anything else = full evaluation), and what its layers did
    sections: Dict[str, List[dict]] = {}
    for q in tr.spans:
        if q["name"] != "query" or q["attrs"].get("section") not in ("hot", "spark"):
            continue
        sub = tr.subtree(q["id"])
        prunes = [s for s in sub if s["name"] == "prune"]
        row = {
            "jobs": sum(s["counters"]["jobs"] for s in sub),
            "stages": sum(s["counters"]["stages"] for s in sub),
            "fills": sum(1 for s in sub if s["name"] == "search.decode_raw"),
            "fill_s": sum(s["end"] - s["start"] for s in sub if s["name"] == "search.hot_fill"
                          and any(c["name"] == "search.decode_raw" for c in tr.subtree(s["id"]))),
            "stats_s": sum(s["end"] - s["start"] for s in sub if s["name"] == "search.term_stats"),
            "prune_s": sum(s["end"] - s["start"] for s in prunes),
            "declined": sum(1 for s in prunes if not s["attrs"].get("rows")),
        }
        row["tier"] = ("hot" if row["jobs"] == 0 else
                       "wand" if any(s["attrs"].get("rows") for s in prunes) else "eval")
        if row["tier"] != q["attrs"]["tier"]:
            run.fail(f"{q['attrs']['section']} stream: {q['attrs']['shape']} query answered "
                     f"by the {row['tier']} tier, declared {q['attrs']['tier']}")
        sections.setdefault(q["attrs"]["section"], []).append(row)

    def share(rows, tier):
        return sum(r["tier"] == tier for r in rows) / max(1, len(rows))

    def mean(rows, key):
        return sum(r[key] for r in rows) / max(1, len(rows))

    hot, spk = sections.get("hot", []), sections.get("spark", [])
    L.update({
        "search.hot_share": share(hot, "hot"),
        "search.hot_fills": float(sum(r["fills"] for r in hot)),
        "search.hot_fill_s": float(sum(r["fill_s"] for r in hot)),
        "search.term_stats_s": mean(hot, "stats_s"),
        "search.spark_hot_share": share(spk, "hot"),
        "search.eval_share": share(spk, "eval"),
        "search.spark_jobs_per_query": mean(spk, "jobs"),
        "search.spark_stages_per_query": mean(spk, "stages"),
        "prune.wand_share": share(spk, "wand"),
        "prune.s": mean(spk, "prune_s"),
        "prune.declined": float(sum(r["declined"] for r in spk)),
    })
    tiers = {sec: {t: sum(r["tier"] == t for r in rows) for t in ("hot", "wand", "eval")}
             for sec, rows in sections.items()}
    run.report["tier_mix"] = tiers
    return L
