"""Spark job budget of a warm eager build + write_index, and job-group
propagation (every job a build submits can be cancelled with its group)."""

import time

import pytest

from lucene_spark.build import IndexConfig, assign_doc_ids, build_index, write_index
from lucene_spark.corpus import generate_corpus

# order_cols: range sample + exchange + cache + per-partition count (4);
# doc_id_col: corpus count + its aggregate exchange, segment-range sample +
# exchange (4). Then, for both (13 jobs measured on either path):
# term-major sample + exchange (with the fused pass) + postings cache (3);
# terms and docs caches + the token-totals collect (3); three Parquet
# writes (3)
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
    ids = assign_doc_ids(c, ["repo", "path"], 4).persist()
    ids.count()
    yield c, ids
    ids.unpersist()
    ids._doc_id_parted.unpersist()
    c.unpersist()


@pytest.mark.parametrize("ids_from", ["order_cols", "doc_id_col"])
@pytest.mark.parametrize("positions", [False, True])
def test_warm_build_write_job_count(spark, corpus, tmp_path, positions, ids_from):
    sc = spark.sparkContext
    cfg = IndexConfig(chain="code", with_positions=positions)
    raw, with_ids = corpus

    def build_write(name):
        if ids_from == "order_cols":
            idx = build_index(raw, cfg, order_cols=["repo", "path"], eager=True)
        else:
            idx = build_index(with_ids, cfg, doc_id_col="doc_id", eager=True)
        write_index(idx, str(tmp_path / name))
        return idx

    build_write("warm").unpersist()
    ungrouped = _settled_jobs(sc, None)
    group = f"build-jobs-{ids_from}-{positions}"
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
