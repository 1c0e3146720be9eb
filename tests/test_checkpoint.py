"""Checkpoint-resumable build: crash -> resume -> identical index; lineage
gate rejects drifted input; spark-submit entrypoint works end-to-end."""

import json
import os
import subprocess
import sys

import numpy as np
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def code_corpus(spark):
    from lucene_spark.corpus import generate_corpus

    df = generate_corpus(spark, 2000, num_partitions=8).persist()
    df.count()
    yield df
    df.unpersist()


def _cfg():
    from lucene_spark.config import IndexConfig

    return IndexConfig(chain="code", seg_size=256, block_size=64,
                       with_positions=False)


def test_crash_resume_equals_oneshot(spark, code_corpus, tmp_path):
    from lucene_spark.build import build_index
    from lucene_spark.checkpoint import build_checkpointed, read_checkpointed
    from lucene_spark.query import TermQuery, bool_query
    from lucene_spark.search import Searcher

    path = str(tmp_path / "idx")
    # crash after 2 shard commits
    with pytest.raises(RuntimeError, match="injected failure"):
        build_checkpointed(code_corpus, _cfg(), path, ["repo", "path"],
                           n_shards=6, fail_after_shards=2)
    committed = [d for d in os.listdir(path) if d.startswith("shard_")
                 and not d.endswith(".tmp")]
    assert len(committed) == 2
    assert not os.path.exists(os.path.join(path, "MANIFEST.json"))

    # resume: only the remaining shards build
    manifest = build_checkpointed(code_corpus, _cfg(), path, ["repo", "path"],
                                  n_shards=6)
    assert manifest["resumed_shards_this_run"] == len(manifest["shards"]) - 2
    assert manifest["doc_count"] == 2000
    for m in manifest["shards"]:
        assert m["rows"] > 0 and m["build_wall_sec"] > 0 and m["digest"]

    # the sharded index must equal the one-shot build
    ck = read_checkpointed(spark, path)
    ck.persist()
    one = build_index(code_corpus, _cfg(), order_cols=["repo", "path"],
                      num_partitions=8, auto_seg_size=False, eager=True)
    assert ck.stats.doc_count == one.stats.doc_count
    assert ck.stats.sum_total_term_freq == one.stats.sum_total_term_freq
    t_ck = {r["term"]: (r["doc_freq"], r["total_term_freq"])
            for r in ck.terms.collect()}
    t_one = {r["term"]: (r["doc_freq"], r["total_term_freq"])
             for r in one.terms.collect()}
    assert t_ck == t_one
    s_ck = Searcher(ck, dtype=np.float32)
    s_one = Searcher(one, dtype=np.float32)
    for q in (TermQuery(term="def"),
              bool_query(must=[TermQuery(term="def"), TermQuery(term="merge")]),
              bool_query(should=[TermQuery(term=t) for t in ("index", "writer")])):
        a = [(r["doc_id"], round(r["score"], 6)) for r in s_ck.search(q, 10).collect()]
        b = [(r["doc_id"], round(r["score"], 6)) for r in s_one.search(q, 10).collect()]
        assert a == b
    ck.unpersist()
    one.unpersist()


def test_manifest_keeps_config_and_stored_cols(spark, code_corpus, tmp_path):
    """The sharded index reopens with its whole IndexConfig (stopwords,
    stored columns, ...) and its docs carry the stored columns; a manifest
    from before the full config still opens with the defaults."""
    from lucene_spark.build import build_index
    from lucene_spark.checkpoint import build_checkpointed, read_checkpointed
    from lucene_spark.config import IndexConfig

    cfg = IndexConfig(chain="code", seg_size=256, with_positions=False,
                      stopwords=frozenset({"def", "return"}),
                      store_cols=("lang",))
    path = str(tmp_path / "idx_cfg")
    build_checkpointed(code_corpus, cfg, path, ["repo", "path"], n_shards=3)
    ck = read_checkpointed(spark, path)
    assert ck.config == cfg
    one = build_index(code_corpus, cfg, order_cols=["repo", "path"],
                      auto_seg_size=False, eager=True)
    cols = ["doc_id", "lang", "length", "norm", "num_overlap"]
    assert sorted(map(tuple, ck.docs.select(*cols).collect())) == sorted(
        map(tuple, one.docs.select(*cols).collect()))
    assert ck.stats == one.stats
    assert ck.terms.filter("term in ('def', 'return')").count() == 0
    one.unpersist()

    mpath = os.path.join(path, "MANIFEST.json")
    with open(mpath) as fh:
        manifest = json.load(fh)
    manifest["config"] = {k: manifest["config"][k] for k in (
        "chain", "seg_size", "block_size", "with_positions", "k1", "b")}
    with open(mpath, "w") as fh:
        json.dump(manifest, fh)
    assert read_checkpointed(spark, path).config == IndexConfig(
        chain="code", seg_size=256, with_positions=False)


def test_lineage_mismatch_rejected(spark, code_corpus, tmp_path):
    from lucene_spark.checkpoint import build_checkpointed, plan_shards

    path = str(tmp_path / "idx2")
    plan = plan_shards(code_corpus, ["repo", "path"], "content", 4, path)
    plan["shards"][0]["digest"] = "12345"  # simulate input drift
    with open(os.path.join(path, "shards.json"), "w") as fh:
        json.dump(plan, fh)
    with pytest.raises(ValueError, match="lineage mismatch"):
        build_checkpointed(code_corpus, _cfg(), path, ["repo", "path"], n_shards=4)


def test_spark_submit_entrypoint(tmp_path):
    """North-rule launch mode: spark-submit --py-files dist/lucene_spark.zip."""
    import pyspark

    spark_submit = os.path.join(os.path.dirname(pyspark.__file__), "bin",
                                "spark-submit")
    if not os.path.exists(spark_submit):
        pytest.skip("spark-submit not found")
    zip_path = str(tmp_path / "lucene_spark.zip")
    subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "make_pyfiles.py"), zip_path],
        check=True, cwd=REPO,
    )
    out_dir = str(tmp_path / "subidx")
    env = {**os.environ, "SPARK_DRIVER_MEM": "2g"}
    r = subprocess.run(
        [spark_submit, "--master", "local[4]", "--py-files", zip_path,
         os.path.join(REPO, "scripts", "submit_build.py"),
         "--n-docs", "800", "--out", out_dir, "--shards", "3"],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    manifest = json.load(open(os.path.join(out_dir, "MANIFEST.json")))
    assert manifest["doc_count"] == 800
    last = [ln for ln in r.stdout.strip().splitlines() if ln.startswith("{")][-1]
    assert json.loads(last)["doc_count"] == 800
