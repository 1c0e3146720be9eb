"""SearcherManager / ControlledRealTimeReopenThread analogs over a
``stream_index_appends`` directory.

The reference's NRT machinery (search/SearcherManager.java,
search/ControlledRealTimeReopenThread.java) lets readers reopen against a
writer's un-merged flushed segments and lets callers block until a
generation they depend on becomes searchable (waitForGeneration). The
Spark-first re-expression: the streaming sink commits one manifest line
per micro-batch (the generation counter — segments_N analog), and a
:class:`SearcherManager` re-derives the reader view from the appended
parquet whenever the committed generation advances:

- ``acquire()``    -> the current :class:`~lucene_spark.search.Searcher`
  (SearcherManager.acquire; no refcounting needed — DataFrames are
  immutable views, an old searcher stays valid after a refresh).
- ``maybe_refresh()`` -> re-read the manifest, rebuild the view iff the
  generation advanced (SearcherManager.maybeRefresh).
- ``wait_for_generation(gen)`` -> block (poll the commit log) until the
  writer has committed at least ``gen`` batches, then refresh and return
  the searcher — ControlledRealTimeReopenThread.waitForGeneration with
  polling in place of the notify/wait handshake (the commit log on a
  shared filesystem IS the cross-process signal).

Scale notes: a refresh reads only the manifest (tiny, driver-side) and
re-plans lazy parquet scans — no data moves until a query runs. Term
stats are re-derived from the postings blocks by the same aggregation
the batch builder uses (build.terms_from_postings), so statistics are
exact over all generations; the writer stores no per-batch terms table.
Doc-id uniqueness across batches is the writer's contract, as in the
reference (addDocument with your own keys).
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

from pyspark.sql import SparkSession

from ..bm25 import CollectionStats
from ..build import Index, config_from_dict, terms_from_postings
from ..search import Searcher


def _read_commits(path: str) -> list:
    mf = os.path.join(path, "stream_manifest.jsonl")
    if not os.path.exists(mf):
        return []
    with open(mf) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def open_streamed_index(spark: SparkSession, path: str) -> Index:
    """Open the appended-segments layout as an Index (DirectoryReader.open
    over the NRT directory): postings/docs are the parquet unions, term
    stats re-aggregated from postings blocks, collection stats summed from
    the commit log."""
    commits = _read_commits(path)
    if not commits:
        raise FileNotFoundError(f"no streamed commits under {path}")
    with open(os.path.join(path, "stream_config.json")) as fh:
        cfg = config_from_dict(json.load(fh))
    postings = spark.read.parquet(os.path.join(path, "postings"))
    docs = spark.read.parquet(os.path.join(path, "docs"))
    stats = CollectionStats(
        doc_count=sum(int(c["doc_count"]) for c in commits),
        sum_total_term_freq=sum(int(c["sum_total_term_freq"]) for c in commits),
    )
    return Index(docs=docs, terms=terms_from_postings(postings), postings=postings,
                 stats=stats, config=cfg)


class SearcherManager:
    """Reopen-on-demand searcher over a streamed index directory."""

    def __init__(self, spark: SparkSession, path: str, dtype=np.float64):
        self.spark = spark
        self.path = path
        self.dtype = dtype
        self.current_generation = -1  # generation the open searcher covers
        self._searcher = None

    def generation(self) -> int:
        """Committed generation on disk = number of manifest lines (the
        writer bumps it once per flushed micro-batch)."""
        return len(_read_commits(self.path))

    def maybe_refresh(self) -> bool:
        """Reopen iff the committed generation advanced. Returns whether a
        new searcher was opened (SearcherManager.maybeRefresh)."""
        gen = self.generation()
        if gen <= self.current_generation:
            return False
        self._searcher = Searcher(
            open_streamed_index(self.spark, self.path), dtype=self.dtype
        )
        self.current_generation = gen
        return True

    def acquire(self) -> Searcher:
        """Current searcher (opens on first use). An acquired searcher
        stays valid after later refreshes — its DataFrames are immutable
        plans over the files present at open time plus appends, so no
        release()/refcount protocol is needed."""
        if self._searcher is None:
            self.maybe_refresh()
        if self._searcher is None:
            raise FileNotFoundError(f"no streamed commits under {self.path}")
        return self._searcher

    def wait_for_generation(
        self, gen: int, timeout: float = 120.0, poll: float = 0.2
    ) -> Searcher:
        """Block until at least ``gen`` batches are committed, then refresh
        and return the searcher
        (ControlledRealTimeReopenThread.waitForGeneration). Raises
        TimeoutError like the reference returns false on timeout."""
        deadline = time.time() + timeout
        while self.generation() < gen:
            if time.time() >= deadline:
                raise TimeoutError(
                    f"generation {gen} not committed within {timeout}s "
                    f"(at {self.generation()})"
                )
            time.sleep(poll)
        self.maybe_refresh()
        return self.acquire()
