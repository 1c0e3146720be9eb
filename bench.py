"""Benchmark harness: prints ONE JSON line
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Covers the BASELINE.md protocol at small scale:
- index-build throughput (docs/sec) over the documents table AND over the
  deterministic synthetic source-code corpus (sha256-verified before build),
- BM25 top-10 latency (p50 of N runs) for the headline query set, pruned
  block-max path,
- pipeline op timings (minhash dedup, cosine top-k, text stats).

Environment: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_BENCH_DOCS (synthetic corpus size,
default 60000), SPARK_GRAFT_QUERY_REPS (default 3).
Scaling evidence (local[8] vs local[32]) is produced by
scripts/scaling_bench.py -> BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_code_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "60000"))
    reps = int(os.environ.get("SPARK_GRAFT_QUERY_REPS", "3"))
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else -1.0

    from pyspark.sql import functions as F

    from lucene_spark.build import IndexConfig, build_index
    from lucene_spark.corpus import generate_corpus, sha256_sidecar, verify_sha256
    from lucene_spark.query import (
        BlendedTermQuery, PhraseQuery, TermQuery, bool_query,
    )
    from lucene_spark.search import Searcher
    from lucene_spark.session import get_spark

    spark = get_spark(app="lucene_spark_bench", cores=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    queries: dict[str, float] = {}
    t_total0 = time.time()

    # ---- 1. index build over the documents table ----
    # single-file parquet reads as 1 partition — spread before any work
    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).repartition(cpus).persist()
    n_docs = docs.count()
    cfg = IndexConfig(chain="standard", seg_size=1 << 12, block_size=128,
                      with_positions=True, store_cols=("lang",))
    t0 = time.time()
    idx = build_index(docs, cfg, content_col="text", doc_id_col="doc_id", eager=True)
    t_build_docs = time.time() - t0
    queries["index_build_documents"] = round(t_build_docs, 3)

    # ---- 2. index build over the synthetic source-code corpus ----
    code = generate_corpus(spark, n_code_docs, num_partitions=cpus * 2).persist()
    code.count()
    sidecar = sha256_sidecar(code).persist()
    sidecar.count()
    # the sha256 verify gate is timed separately — it is an ingest integrity
    # check, not part of index-build throughput
    t0 = time.time()
    verify_sha256(code, sidecar)  # per-row invariant gate
    t_verify = time.time() - t0
    queries["sha256_verify_gate"] = round(t_verify, 3)
    code_cfg = IndexConfig(chain="code", seg_size=1 << 13, block_size=128,
                           with_positions=False)
    t0 = time.time()
    cidx = build_index(code, code_cfg, order_cols=["repo", "path"],
                       num_partitions=cpus, eager=True)
    t_build_code = time.time() - t0
    queries["index_build_code_corpus"] = round(t_build_code, 3)
    code_docs_per_sec = n_code_docs / t_build_code

    # ---- 3. BM25 query latency (pruned path) over documents index ----
    searcher = Searcher(idx, dtype=np.float32, preload_stats=True)
    qset = {
        "bm25_term": TermQuery(term="spark"),
        "bm25_term_hot": TermQuery(term="table"),
        "bm25_and": bool_query(must=[TermQuery(term="spark"), TermQuery(term="vector")]),
        "bm25_or3": bool_query(
            should=[TermQuery(term=t) for t in ("spark", "merge", "vector")]
        ),
        "bm25_phrase": PhraseQuery(terms=("fast", "table")),
        # 3-term sloppy phrase: exercises the merged-order batch kernel
        # (sloppy_freqs_batch) that replaced the per-doc n>=3 heap walk
        "bm25_phrase3_slop": PhraseQuery(terms=("the", "fast", "table"), slop=4),
        # REPEATED-term sloppy phrase: the hasRpts lattice
        # (sloppy_phrase_freqs_rpts) — round-4 vectorization target
        "bm25_phrase_slop_rpts": PhraseQuery(terms=("the", "fast", "the"), slop=4),
        # round-3 addition: blended-statistics term query
        "blended_term": BlendedTermQuery(
            terms=("spark", "merge"), boosts=(1.0, 2.0), tie_breaker=0.1
        ),
    }
    cold_lat = {}
    for name, q in qset.items():
        t0 = time.time()
        searcher.top_docs(q, 10)  # cold: includes bounds/postings fetch jobs
        cold_lat[name] = round(time.time() - t0, 3)
        times = []
        for _ in range(reps):
            t0 = time.time()
            searcher.top_docs(q, 10)
            times.append(time.time() - t0)
        queries[name] = round(statistics.median(times), 4)

    # ---- 3b. distributed-tier latency (hot driver cache OFF) ----
    # the 100-TB serving story rests on the WAND tier: per-term metadata on
    # the driver, the blocks distributed, the WAND test inline in the decode
    # scanner. Time it explicitly so the round-over-round bench tracks the
    # path a 1000-executor cluster would actually run (driver caches can't
    # hold a 100-TB index). Until the driver-bounds WAND tier was deleted,
    # bm25_or3_distributed timed that tier instead.
    prev_hot = os.environ.get("LUCENE_SPARK_HOT_CACHE_POSTINGS")
    os.environ["LUCENE_SPARK_HOT_CACHE_POSTINGS"] = "0"
    try:
        dsearcher = Searcher(idx, dtype=np.float32, preload_stats=True)
        dq = qset["bm25_or3"]
        dsearcher.top_docs(dq, 10)  # warm: per-term metadata fetch + codegen
        times = []
        for _ in range(reps):
            t0 = time.time()
            dsearcher.top_docs(dq, 10)
            times.append(time.time() - t0)
        queries["bm25_or3_distributed"] = round(statistics.median(times), 4)

        # filter-bearing boolean on the same tier, with and without the
        # LRUQueryCache analog (querycache.py): the cached run serves the
        # costly prefix filter's doc-set from a persisted frame
        from lucene_spark.query import PrefixQuery
        from lucene_spark.querycache import LRUQueryCache

        fq = bool_query(
            must=[TermQuery(term="table")],
            filter=[PrefixQuery(prefix="sp")],
        )
        dsearcher.top_docs(fq, 10)  # warm
        times = []
        for _ in range(reps):
            t0 = time.time()
            dsearcher.top_docs(fq, 10)
            times.append(time.time() - t0)
        queries["bm25_filter_distributed"] = round(statistics.median(times), 4)

        csearcher = Searcher(
            idx, dtype=np.float32, preload_stats=True,
            query_cache=LRUQueryCache(min_docs_to_cache=0),
        )
        csearcher.top_docs(fq, 10)  # policy use 1
        csearcher.top_docs(fq, 10)  # use 2: filter doc-set cached
        times = []
        for _ in range(reps):
            t0 = time.time()
            csearcher.top_docs(fq, 10)
            times.append(time.time() - t0)
        queries["bm25_filter_cached"] = round(statistics.median(times), 4)
    finally:
        if prev_hot is None:
            del os.environ["LUCENE_SPARK_HOT_CACHE_POSTINGS"]
        else:
            os.environ["LUCENE_SPARK_HOT_CACHE_POSTINGS"] = prev_hot

    # ---- 4. pipeline ops ----
    from lucene_spark.functions import dedup as fdedup
    from lucene_spark.functions import simsearch as fsim
    from lucene_spark.functions import textstats as ftext

    def best_of(fn, reps=2):
        ts = []
        for _ in range(reps):
            t0 = time.time()
            fn()
            ts.append(time.time() - t0)
        return round(min(ts), 3)

    queries["dedup_minhash_star"] = best_of(
        # best-of-3: the r02 +31% on this op was host noise, re-measured
        lambda: fdedup.minhash_star_pairs(docs, "doc_id", "text").count(),
        reps=3,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qrows = emb.filter(F.col("vec_id") < 8).collect()
    qvecs = np.stack([np.asarray(r["embedding"], dtype=np.float32) for r in qrows])
    qids = np.array([r["vec_id"] for r in qrows])
    queries["sim_cosine_topk_fast"] = best_of(
        lambda: fsim.cosine_topk_fast(emb, qvecs, qids, k=10).collect()
    )
    queries["text_fingerprint"] = best_of(
        lambda: ftext.fingerprints(docs, "doc_id", "text").count()
    )
    # SQ8 quantized ANN: bounds once (tiny agg), then the asymmetric search
    sq_bounds = fsim.sq8_bounds(emb)
    queries["sim_sq8_topk"] = best_of(
        lambda: fsim.sq8_topk(
            emb, [int(x) for x in qids], k=10, bounds=sq_bounds
        ).collect()
    )

    # sharded HNSW: build once (timed), then query at the bounded-ef
    # approximate setting (timed separately — build amortizes over queries)
    from lucene_spark.functions import hnsw as fh

    t0 = time.time()
    hgraph = fh.build_hnsw(emb, n_shards=8, m=16, ef_construction=100).persist()
    hgraph.count()
    queries["hnsw_build"] = round(time.time() - t0, 3)
    queries["sim_hnsw_topk"] = best_of(
        lambda: fh.hnsw_topk(
            hgraph, emb, [0, 1, 2], k=10, ef=80, m=16, n_shards=8
        ).collect()
    )
    hgraph.unpersist()

    # round-3 operators: query-time term join (per-value fold + value
    # equi-join) and diversified top-k (two windows)
    from lucene_spark.functions import joinutil as fjoin

    queries["join_util_avg"] = best_of(
        lambda: fjoin.term_join(
            searcher, "lang", TermQuery(term="spark"), searcher, "lang",
            "avg",
        ).count(),
        reps=2,
    )
    queries["diversified_topk"] = best_of(
        lambda: searcher.diversified_topk(
            TermQuery(term="spark"), 10, 2, key_expr="doc_id % 7"
        ).collect(),
        reps=2,
    )

    total = round(time.time() - t_total0, 3)
    out = {
        "metric": "lucene_spark_bench_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "extras": {
            "cpus": cpus,
            "documents_rows": n_docs,
            "code_corpus_rows": n_code_docs,
            "code_index_docs_per_sec": round(code_docs_per_sec, 1),
            "documents_index_docs_per_sec": round(n_docs / t_build_docs, 1),
            "query_cold_sec": cold_lat,
        },
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
