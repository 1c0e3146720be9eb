"""Spark job budget of a warm eager build + write_index, and job-group
propagation (every job a build submits can be cancelled with its group)."""

import time

import pytest

from lucene_spark.build import IndexConfig, build_index, write_index
from lucene_spark.corpus import generate_corpus

# range sample + exchange + cache + per-partition count (4); term-major
# sample + exchange (with the fused pass) + postings cache (3); terms and
# docs caches + the token-totals collect (3); three Parquet writes (3)
BUILD_WRITE_JOB_CAP = 14


def _settled_jobs(sc, group, wait_s=5.0):
    """Job ids of ``group`` once the status listener has caught up."""
    st = sc.statusTracker()
    deadline = time.monotonic() + wait_s
    seen = None
    while True:
        ids = set(st.getJobIdsForGroup(group) or [])
        if ids == seen or time.monotonic() > deadline:
            return ids
        seen = ids
        time.sleep(0.2)


@pytest.fixture(scope="module")
def corpus(spark):
    c = generate_corpus(spark, 300, seed=3, num_partitions=4).persist()
    c.count()
    yield c
    c.unpersist()


@pytest.mark.parametrize("positions", [False, True])
def test_warm_build_write_job_count(spark, corpus, tmp_path, positions):
    sc = spark.sparkContext
    cfg = IndexConfig(chain="code", with_positions=positions)

    def build_write(name):
        idx = build_index(corpus, cfg, order_cols=["repo", "path"], eager=True)
        write_index(idx, str(tmp_path / name))
        return idx

    build_write("warm").unpersist()
    ungrouped = _settled_jobs(sc, None)
    group = f"build-jobs-{positions}"
    sc.setJobGroup(group, "warm build + write")
    try:
        idx = build_write("probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = _settled_jobs(sc, group)
    stray = _settled_jobs(sc, None) - ungrouped
    assert idx.stats.doc_count == 300
    assert not stray, f"{len(stray)} build jobs ran outside the caller's job group"
    assert len(jobs) <= BUILD_WRITE_JOB_CAP, (
        f"warm build + write ran {len(jobs)} jobs (cap {BUILD_WRITE_JOB_CAP})"
    )
    idx.unpersist()
