"""Percolation (standing queries over a document stream) + NRT-style
streaming index appends — the streaming story of the reference
(monitor/src/.../Monitor.java; DirectoryReader NRT reopen — SURVEY.md §2.8).

- ``Monitor``: registered queries are matched against every incoming
  micro-batch via ``foreachBatch``; matching is an ephemeral index build over
  the batch (batch sizes are bounded, so this is cheap and fully
  distributed) followed by the normal query evaluation.
- ``stream_index_appends``: Structured-Streaming sink that appends per-batch
  segment postings to an index directory, manifest-tracked, giving an
  NRT-reader analog (readers pick up new generations on reopen).
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable, Dict, List, Tuple

from pyspark.sql import DataFrame, functions as F

from ..build import IndexConfig, build_index
from ..query import Query
from ..search import Searcher


def _presearch_terms(q: Query) -> tuple:
    """(required, any) term sets for the presearcher filter
    (monitor/.../TermFilteredPresearcher.java idea): a query CANNOT match a
    batch unless every `required` term and, when `required` is empty, at
    least one `any` term occurs somewhere in the batch. Unanalyzable nodes
    return (None, None) = never skip (the presearcher's ANYTOKEN)."""
    from ..query import (
        BooleanClause,
        BooleanQuery,
        DisjunctionMaxQuery,
        Occur,
        PhraseQuery,
        SpanNearQuery,
        SynonymQuery,
        TermQuery,
    )

    if isinstance(q, TermQuery):
        return {q.term}, {q.term}
    if isinstance(q, (PhraseQuery, SpanNearQuery)):
        return set(q.terms), set(q.terms)
    if isinstance(q, SynonymQuery):
        return None, set(q.terms)
    if isinstance(q, DisjunctionMaxQuery):
        anys = set()
        for d in q.disjuncts:
            _r, a = _presearch_terms(d)
            if a is None:
                return None, None
            anys |= a
        return None, anys
    if isinstance(q, BooleanQuery):
        req: set | None = set()
        anys: set | None = set()
        n_pos = 0
        for c in q.clauses:
            if c.occur == Occur.MUST_NOT:
                continue
            r, a = _presearch_terms(c.query)
            n_pos += 1
            if c.occur in (Occur.MUST, Occur.FILTER) and r is not None and req is not None:
                req |= r
            elif c.occur in (Occur.MUST, Occur.FILTER) and r is None:
                pass  # unanalyzable required clause: no required terms known
            if a is None:
                anys = None
            elif anys is not None:
                anys |= a
        if n_pos == 0:
            return None, None
        return (req or None), anys
    return None, None  # MatchAll, multi-term, feature... never skip


class Monitor:
    """Standing-query registry + batch matcher (percolator) with a
    presearcher: each registered query carries its (required, any) term
    sets, and match_batch evaluates ONLY the queries whose term sets are
    compatible with the batch's vocabulary — the Monitor module's
    TermFilteredPresearcher role (at scale: thousands of standing queries,
    a handful touched per batch)."""

    def __init__(self, config: IndexConfig | None = None):
        self.config = config or IndexConfig(seg_size=1 << 12)
        self._queries: Dict[str, Query] = {}
        self._presearch: Dict[str, tuple] = {}

    def register(self, query_id: str, query: Query) -> None:
        self._queries[query_id] = query
        self._presearch[query_id] = _presearch_terms(query)

    def _candidate_queries(self, batch_vocab: set) -> List[str]:
        out = []
        for qid, (req, anys) in self._presearch.items():
            if req is not None and req and not (req <= batch_vocab):
                continue
            if (req is None or not req) and anys is not None and not (
                anys & batch_vocab
            ):
                continue
            out.append(qid)
        return out

    def match_batch(
        self, batch: DataFrame, content_col: str = "text", id_col: str = "doc_id"
    ) -> DataFrame:
        """(query_id, doc_id) for every standing query matching a batch doc.
        The result STAYS a DataFrame: it is materialized cluster-side
        (eager localCheckpoint, which also cuts lineage to the ephemeral
        per-batch index) before that index is released, never round-tripped
        through the driver — at scale a percolator batch can match far more
        rows than the driver should hold."""
        idx = build_index(
            batch, self.config, content_col=content_col, doc_id_col=id_col
        ).persist()
        try:
            s = Searcher(idx)
            # presearcher: one tiny job for the batch vocabulary, then only
            # compatible standing queries are evaluated (queries live on the
            # driver, so the vocab set comes to the driver — bounded by the
            # batch's DISTINCT terms, not its size)
            vocab = {r["term"] for r in idx.terms.select("term").collect()}
            parts: List[DataFrame] = []
            for qid in self._candidate_queries(vocab):
                q = self._queries[qid]
                parts.append(
                    s.matches(q).select(
                        F.lit(qid).alias("query_id"), F.col("doc_id").cast("long")
                    )
                )
            if not parts:
                return batch.sparkSession.createDataFrame(
                    [], "query_id string, doc_id long"
                )
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            # materialize AND cut lineage before the ephemeral index goes
            # away: localCheckpoint stores the blocks executor-side and
            # detaches them from the index lineage, so callers may hold the
            # result indefinitely (storage is released when the frame is
            # GC'd) and a block eviction fails loudly instead of silently
            # rebuilding the whole per-batch index
            out = out.localCheckpoint(eager=True)
            return out
        finally:
            idx.unpersist()

    def foreach_batch(
        self,
        sink: Callable[[DataFrame, int], None],
        content_col: str = "text",
        id_col: str = "doc_id",
    ):
        """Adapter for writeStream.foreachBatch."""

        def _fn(batch_df: DataFrame, epoch_id: int) -> None:
            sink(self.match_batch(batch_df, content_col, id_col), epoch_id)

        return _fn


def stream_index_appends(
    stream_df: DataFrame,
    path: str,
    config: IndexConfig | None = None,
    content_col: str = "text",
    id_col: str = "doc_id",
    checkpoint: str | None = None,
    trigger_once: bool = True,
):
    """writeStream sink appending per-batch segments (NRT flush analog).

    Each micro-batch becomes one index generation: postings/docs appended as
    parquet, manifest extended with per-batch lineage + metrics — the
    checkpoint-resume unit. Readers re-open by reading the manifest."""
    cfg = config or IndexConfig(seg_size=1 << 12)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if len(batch_df.take(1)) == 0:
            return
        t0 = time.time()
        cfg_path = os.path.join(path, "stream_config.json")
        if not os.path.exists(cfg_path):
            # reader sidecar (SearcherManager reopens with the writer's
            # exact analysis/scoring config, like SegmentInfos carrying the
            # codec) — written before the first commit line
            from ..build import config_to_dict

            os.makedirs(path, exist_ok=True)
            with open(cfg_path, "w") as fh:
                json.dump(config_to_dict(cfg), fh)
        idx = build_index(batch_df, cfg, content_col=content_col, doc_id_col=id_col)
        idx.postings.write.mode("append").parquet(os.path.join(path, "postings"))
        idx.docs.write.mode("append").parquet(os.path.join(path, "docs"))
        manifest_path = os.path.join(path, "stream_manifest.jsonl")
        with open(manifest_path, "a") as fh:
            fh.write(
                json.dumps(
                    {
                        "epoch": int(epoch_id),
                        "doc_count": idx.stats.doc_count,
                        "sum_total_term_freq": idx.stats.sum_total_term_freq,
                        "wall_sec": round(time.time() - t0, 3),
                    }
                )
                + "\n"
            )

    writer = stream_df.writeStream.foreachBatch(write_batch).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer
