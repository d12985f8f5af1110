"""Resumability + strategy-invariance tests.

- resume == fresh: the translation of the reference's all-or-nothing
  in-RAM build into the checkpointed world — killing the build after >=1
  stage-1 group checkpoint and resuming must yield an identical index
  (north_rule: "resumable from checkpoint with per-partition lineage").
- strategy invariance: the translation of test_parallel_insertions.py:62-69
  (parallel build == serial build): different shuffle partitioning must
  not change a single output bit of the logical index content.
"""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from flatnav_spark.build import (_complete_groups, _marker_path,
                                 _n_groups_for_bytes, _resume_n_groups,
                                 build_index)
from flatnav_spark.corpus import corpus_df, synth_queries
from flatnav_spark.query import batch_query

N_DOCS = 120


def _index_content_hash(spark, index):
    """Order-insensitive logical fingerprint of all three index tables."""
    out = {}
    for name, keys in [("docs", None), ("stats", None), ("postings", None)]:
        df = spark.read.parquet(os.path.join(index.path, name))
        cols = [F.col(c).cast("string") for c in sorted(df.columns)]
        if name == "postings":
            # binary cols -> hex for stable stringification
            cols = [
                F.hex(F.col(c)).cast("string") if c.endswith("_bin") else F.col(c).cast("string")
                for c in sorted(df.columns)
            ]
        fp = (
            df.select(F.xxhash64(*cols).alias("h"))
            .agg(F.expr("bit_xor(h)").alias("fp"), F.count(F.lit(1)).alias("n"))
            .collect()[0]
        )
        out[name] = (int(fp["fp"] or 0), int(fp["n"]))
    return out


def _topk(spark, index, queries, k=10):
    qdf = spark.createDataFrame(queries, "query_id long, query_text string")
    return sorted(
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in batch_query(spark, index, qdf, k=k).collect()
    )


def test_resume_equals_fresh(spark, tmp_path):
    corpus = corpus_df(spark, N_DOCS)
    fresh_path = str(tmp_path / "fresh")
    resumed_path = str(tmp_path / "resumed")
    kw = dict(mode="code", n_splits=8, n_groups=4, block_range=64, out_partitions=4)

    fresh = build_index(corpus, fresh_path, **kw)

    # simulate a killed build: run it fully, then delete everything EXCEPT
    # the first two stage-1 group checkpoints (as if the job died mid-stage1)
    build_index(corpus, resumed_path, **kw)
    for entry in os.listdir(resumed_path):
        if entry != "_stage1":
            p = os.path.join(resumed_path, entry)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    for g in (2, 3):
        shutil.rmtree(os.path.join(resumed_path, "_stage1", f"group={g}"))

    resumed = build_index(corpus, resumed_path, resume=True, **kw)

    assert _index_content_hash(spark, fresh) == _index_content_hash(spark, resumed)
    assert fresh.manifest.n_docs == resumed.manifest.n_docs
    assert fresh.manifest.n_postings == resumed.manifest.n_postings
    queries = synth_queries(15)
    assert _topk(spark, fresh, queries) == _topk(spark, resumed, queries)


def test_resume_refuses_config_mismatch(spark, tmp_path):
    corpus = corpus_df(spark, 40)
    path = str(tmp_path / "idx")
    build_index(corpus, path, mode="code", n_splits=8, n_groups=2, block_range=64)
    # tamper with the checkpoint's config hash -> resume must abort
    marker = _marker_path(path, 0)
    with open(marker) as f:
        meta = json.load(f)
    meta["config_hash"] = "deadbeefdeadbeef"
    with open(marker, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="different.*config|refusing"):
        build_index(corpus, path, resume=True, mode="code", n_splits=8, n_groups=2, block_range=64)


def test_partitioning_invariance(spark, tmp_path):
    """Same input, different shuffle-partition count, out_partitions and
    stage-1 group count -> identical logical index content and identical
    query results. The in-memory corpus has no size estimate, so the
    automatic group count (n_groups=None) falls back to 8."""
    corpus = corpus_df(spark, N_DOCS)
    a_path = str(tmp_path / "a")
    queries = synth_queries(15)

    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = build_index(corpus, a_path, mode="code", n_splits=8, n_groups=2,
                        block_range=64, out_partitions=2)
        want_hash, want_topk = _index_content_hash(spark, a), _topk(spark, a, queries)
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        for n_groups, made in [(2, 2), (1, 1), (None, 8)]:
            b_path = str(tmp_path / f"b{n_groups}")
            b = build_index(corpus, b_path, mode="code", n_splits=8,
                            n_groups=n_groups, block_range=64, out_partitions=7)
            assert len(_complete_groups(b_path)) == made
            assert _index_content_hash(spark, b) == want_hash, n_groups
            assert _topk(spark, b, queries) == want_topk, n_groups
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)


def test_group_count_from_input_bytes():
    assert _n_groups_for_bytes(1_100_000) == 1
    assert _n_groups_for_bytes(25_700_000) == 2
    assert _n_groups_for_bytes(130_000_000) == 8
    assert _n_groups_for_bytes(0) == 1
    # Catalyst's "unknown size" and a session without a JVM plan
    assert _n_groups_for_bytes(2**63 - 1) == 8
    assert _n_groups_for_bytes(None) == 8


def test_resume_group_count_from_markers():
    assert _resume_n_groups([], None) is None
    assert _resume_n_groups([], 3) == 3
    recorded = [("0", {"n_groups": 4}), ("1", {"n_groups": 4}), ("ext0", {})]
    assert _resume_n_groups(recorded, None) == 4
    assert _resume_n_groups(recorded, 4) == 4
    with pytest.raises(ValueError, match="n_groups=2.*n_groups=4"):
        _resume_n_groups(recorded, 2)
    # extension groups alone say nothing about the build's groups
    assert _resume_n_groups([("ext0", {})], None) is None


def test_resume_reuses_checkpoint_group_count(spark, tmp_path):
    """A resume without n_groups reuses the count the checkpoints were
    written with; an explicit different count is refused up front."""
    corpus = corpus_df(spark, 40)
    path = str(tmp_path / "idx")
    kw = dict(mode="code", n_splits=8, block_range=64, out_partitions=4)
    fresh = build_index(corpus, path, n_groups=4, **kw)
    want = _index_content_hash(spark, fresh)
    for entry in os.listdir(path):
        if entry != "_stage1":
            p = os.path.join(path, entry)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    shutil.rmtree(os.path.join(path, "_stage1", "group=3"))

    with pytest.raises(ValueError, match="n_groups=2.*n_groups=4"):
        build_index(corpus, path, resume=True, n_groups=2, **kw)
    resumed = build_index(corpus, path, resume=True, **kw)
    assert [g for g, _m in _complete_groups(path)] == ["0", "1", "2", "3"]
    assert all(m["n_groups"] == 4 for _g, m in _complete_groups(path))
    assert _index_content_hash(spark, resumed) == want


def test_resume_refuses_forked_input(spark, tmp_path):
    """Resuming with a changed corpus must abort, not silently mix
    lineages (round-2 fix: markers carry a key fingerprint now)."""
    path = str(tmp_path / "idx")
    kw = dict(mode="code", n_splits=8, n_groups=2, block_range=64)
    build_index(corpus_df(spark, 40), path, **kw)
    # keep stage-1 checkpoints, drop the final tables (simulated crash
    # before stage 2), then resume with a DIFFERENT corpus
    for entry in os.listdir(path):
        if entry != "_stage1":
            p = os.path.join(path, entry)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    with pytest.raises(ValueError, match="forked lineage"):
        build_index(corpus_df(spark, 60), path, resume=True, **kw)


def test_resume_ignores_orphan_group(spark, tmp_path):
    """A marker-less (crashed mid-write) group dir must be discarded and
    rebuilt, yielding the same index as a fresh build."""
    corpus = corpus_df(spark, N_DOCS)
    kw = dict(mode="code", n_splits=8, n_groups=4, block_range=64, out_partitions=4)
    fresh = build_index(corpus, str(tmp_path / "fresh"), **kw)

    crashed = str(tmp_path / "crashed")
    build_index(corpus, crashed, **kw)
    for entry in os.listdir(crashed):
        if entry != "_stage1":
            p = os.path.join(crashed, entry)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    # simulate a crash mid-write of group 3: marker gone, parquet partial
    os.remove(os.path.join(crashed, "_stage1", "group=3", "_DONE.json"))
    resumed = build_index(corpus, crashed, resume=True, **kw)
    assert _index_content_hash(spark, fresh) == _index_content_hash(spark, resumed)
