"""Incremental insert (extend_index) — the Index::add-on-a-live-index
analog: existing doc_ids stable, re-adds idempotent, global stats correct,
and query results rank-identical to the reference oracle over the grown
corpus."""

import pytest

from flatnav_spark.build import build_index, extend_index
from flatnav_spark.corpus import corpus_df, synth_corpus, synth_queries
from flatnav_spark.query import batch_query
from flatnav_spark.reference import golden_topk

SCHEMA = "repo string, path string, commit string, lang string, content string"


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ext") / "index")
    rows = synth_corpus(120)
    first, second = rows[:80], rows[80:]
    corpus1 = spark.createDataFrame(first, SCHEMA)
    index = build_index(corpus1, out, mode="code", n_splits=8, n_groups=2,
                        block_range=64, out_partitions=4)
    return index, first, second


def _parity(spark, index, all_rows, queries, k=10):
    qdf = spark.createDataFrame(queries, "query_id long, query_text string")
    engine = sorted(
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in batch_query(spark, index, qdf, k=k).collect()
    )
    corpus = spark.createDataFrame(all_rows, SCHEMA)
    docs = (
        index.docs(spark)
        .join(corpus, ["repo", "path", "commit"])
        .select("doc_id", "content")
        .collect()
    )
    golden = sorted(golden_topk([(r.doc_id, r.content) for r in docs], queries, k=k, mode="code"))
    assert engine == golden


def test_extend_grows_and_stays_rank_identical(spark, setup):
    index, first, second = setup
    old_ids = {
        (r.repo, r.path, r.commit): r.doc_id for r in index.docs(spark).collect()
    }
    corpus2 = spark.createDataFrame(second, SCHEMA)
    ext = extend_index(spark, index, corpus2, out_partitions=4)

    assert ext.manifest.n_docs == 120
    new_ids = {(r.repo, r.path, r.commit): r.doc_id for r in ext.docs(spark).collect()}
    # existing doc_ids unchanged
    for key, did in old_ids.items():
        assert new_ids[key] == did
    assert len(set(new_ids.values())) == 120
    _parity(spark, ext, first + second, synth_queries(15))


def test_extend_idempotent_readd(spark, setup):
    index, first, second = setup
    # re-adding already-indexed docs is a no-op on counts
    before = index.manifest.n_docs if index.manifest.n_docs >= 120 else None
    ext = extend_index(spark, index, spark.createDataFrame(second, SCHEMA), out_partitions=4)
    assert ext.manifest.n_docs == 120
    assert ext.docs(spark).select("doc_id").distinct().count() == 120
    _parity(spark, ext, first + second, synth_queries(8))


def test_extend_survives_orphaned_prior_extend(spark, tmp_path):
    """An extend that crashed after writing its group but before stage 2
    must not cause the next extend to reuse doc_ids (ADVICE round 1):
    offsets come from the union of complete stage-1 groups, and a
    marker-less group is discarded entirely."""
    import os
    import shutil

    out = str(tmp_path / "index")
    rows = synth_corpus(90)
    a, b, c = rows[:40], rows[40:70], rows[70:]
    index = build_index(spark.createDataFrame(a, SCHEMA), out, mode="code",
                        n_splits=8, n_groups=2, block_range=64, out_partitions=4)

    # extend with b, then simulate "crashed before stage 2": the ext group
    # and marker exist but docs/postings/stats are the PRE-extend state
    pre_docs = os.path.join(out, "docs__pre")
    shutil.copytree(os.path.join(out, "docs"), pre_docs)
    extend_index(spark, index, spark.createDataFrame(b, SCHEMA), out_partitions=4)
    shutil.rmtree(os.path.join(out, "docs"))
    os.rename(pre_docs, os.path.join(out, "docs"))

    # next extend (c) must see b's doc_ids from the stage-1 union and not
    # collide; stage 2 then rebuilds everything consistently
    from flatnav_spark.index_io import load_index
    ext = extend_index(spark, load_index(out), spark.createDataFrame(c, SCHEMA),
                       out_partitions=4)
    assert ext.manifest.n_docs == 90
    ids = [r.doc_id for r in ext.docs(spark).collect()]
    assert len(ids) == len(set(ids)) == 90
    _parity(spark, ext, rows, synth_queries(10))


def test_extend_discards_markerless_group(spark, tmp_path):
    import os
    import shutil

    out = str(tmp_path / "index")
    rows = synth_corpus(60)
    index = build_index(spark.createDataFrame(rows[:40], SCHEMA), out, mode="code",
                        n_splits=8, n_groups=2, block_range=64, out_partitions=4)
    # fake a crashed ext write: directory with parquet-ish content, no marker
    bad = os.path.join(out, "_stage1", "group=ext0")
    os.makedirs(os.path.join(bad, "docs"))
    with open(os.path.join(bad, "docs", "part-junk.parquet"), "wb") as f:
        f.write(b"not parquet")
    ext = extend_index(spark, index, spark.createDataFrame(rows[40:], SCHEMA),
                       out_partitions=4)
    assert ext.manifest.n_docs == 60
    assert not os.path.exists(os.path.join(bad, "docs", "part-junk.parquet"))
    _parity(spark, ext, rows, synth_queries(8))


def test_extend_is_append_only(spark, tmp_path):
    """Incremental extend must not rewrite existing postings: the original
    generation's files are byte-identical afterwards, the new docs land in
    a fresh generation directory, and results stay rank-identical."""
    import os

    out = str(tmp_path / "index")
    rows = synth_corpus(100)
    index = build_index(spark.createDataFrame(rows[:80], SCHEMA), out, mode="code",
                        n_splits=8, n_groups=2, block_range=64, out_partitions=4)

    def snapshot(d):
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in sorted(os.listdir(d)) if f.endswith(".parquet")
        }

    before = snapshot(os.path.join(out, "postings"))
    ext = extend_index(spark, index, spark.createDataFrame(rows[80:], SCHEMA),
                       out_partitions=4)
    assert snapshot(os.path.join(out, "postings")) == before  # untouched
    assert len(ext.manifest.postings_dirs) == 2
    assert ext.manifest.n_docs == 100
    # chunk disjointness: no (term, chunk) pair in two generations
    segs = ext.postings(spark)
    dup = (
        segs.groupBy("term", "chunk_id").count().filter("count > 1").count()
    )
    assert dup == 0
    _parity(spark, ext, rows, synth_queries(10))


def test_extend_then_optimize_compacts_generations(spark, tmp_path):
    from flatnav_spark.maintenance import optimize_index, validate_index

    out = str(tmp_path / "index")
    rows = synth_corpus(90, seed=3)
    index = build_index(spark.createDataFrame(rows[:60], SCHEMA), out, mode="code",
                        n_splits=8, n_groups=2, block_range=64, out_partitions=4)
    ext = extend_index(spark, index, spark.createDataFrame(rows[60:], SCHEMA),
                       out_partitions=4)
    assert len(ext.manifest.postings_dirs) == 2
    queries = synth_queries(8)
    before = _topk_rows(spark, ext, queries)
    opt = optimize_index(spark, ext, out_partitions=2)
    assert len(opt.manifest.postings_dirs) == 1
    validate_index(spark, opt)
    assert _topk_rows(spark, opt, queries) == before
    _parity(spark, opt, rows, queries)


def _topk_rows(spark, index, queries, k=10):
    qdf = spark.createDataFrame(queries, "query_id long, query_text string")
    return sorted(
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in batch_query(spark, index, qdf, k=k).collect()
    )


def test_extend_invalidates_preloaded_stats_cache(spark, tmp_path):
    """A standing service holding a preloaded term-stats cache
    (index.preload_term_stats) must not keep serving from it after
    extend_index commits (round-4 ADVICE, medium): stale df/floor stats
    against the updated n_docs/avgdl score against NEITHER index, and a
    term that exists only in the new documents would silently return no
    results. extend_index drops the caller's cache at the commit point."""
    from flatnav_spark.query import query_one

    out = str(tmp_path / "index")
    rows = synth_corpus(100, seed=7)
    # the extension batch carries a term the original corpus never saw
    second = [(r[0], r[1], r[2], r[3], r[4] + " zzbrandnewterm")
              for r in rows[80:]]
    index = build_index(spark.createDataFrame(rows[:80], SCHEMA), out,
                        mode="code", n_splits=8, n_groups=2, block_range=64,
                        out_partitions=4)
    index.preload_term_stats(spark)
    assert "zzbrandnewterm" not in index._stats_cache
    ext = extend_index(spark, index, spark.createDataFrame(second, SCHEMA),
                       out_partitions=4)
    # the caller's handle was synced AND its cache invalidated
    assert index.manifest.n_docs == ext.manifest.n_docs == 100
    assert index._stats_cache is None
    # query_one through the caller handle now sees the new-only term...
    res = query_one(spark, index, "zzbrandnewterm", k=5)
    assert res, "new-only term must hit the extended postings"
    # ...and re-arming the cache reproduces the same (bit-identical) result
    index.preload_term_stats(spark)
    assert query_one(spark, index, "zzbrandnewterm", k=5) == res
    qdf = spark.createDataFrame([(0, "zzbrandnewterm")],
                                "query_id long, query_text string")
    batch = sorted((r.rank, r.doc_id, r.score)
                   for r in batch_query(spark, ext, qdf, k=5).collect())
    assert sorted((rk, d, s) for rk, d, s in res) == batch


def _tree(path):
    import os

    return sorted((os.path.relpath(os.path.join(d, f), path),
                   os.stat(os.path.join(d, f)).st_mtime_ns)
                  for d, _dirs, files in os.walk(path) for f in files)


def test_rebuild_refuses_unreadable_manifest(spark, tmp_path):
    """An index whose manifest this code CANNOT read — written by a newer
    schema version (99) or by an older one (v3, which predates the marker
    and stats fields every reader now assumes) — is refused by load,
    extend and an in-place rebuild, and nothing is written. A rebuild
    must not silently fall back to a fresh in-place build that overwrites
    directories the unreadable manifest still references (round-4
    ADVICE)."""
    import glob
    import json
    import os

    from flatnav_spark import build
    from flatnav_spark.index_io import load_index
    from flatnav_spark.scorer import BM25Params

    rows = synth_corpus(40, seed=5)
    kw = dict(mode="code", n_splits=4, n_groups=1, block_range=64, out_partitions=2)
    for version in (99, 3):
        out = str(tmp_path / f"v{version}")
        index = build_index(spark.createDataFrame(rows, SCHEMA), out, **kw)
        mpath = os.path.join(out, "manifest.json")
        with open(mpath) as f:
            d = json.load(f)
        d["version"] = version
        if version == 3:
            # what a v3 build left: its own config hash on the manifest and
            # every marker, and markers/metrics without the v4 fields
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(build, "MANIFEST_VERSION", 3)
                v3_hash = build._config_hash("code", BM25Params(), 64, 4)
            d["config_hash"] = v3_hash
            del d["metrics"]["max_dl"]
            for marker in glob.glob(os.path.join(out, "_stage1", "*", "_DONE.json")):
                with open(marker) as f:
                    meta = json.load(f)
                for key in ("n_groups", "min_doc_id", "max_doc_id"):
                    meta.pop(key)
                meta["config_hash"] = v3_hash
                with open(marker, "w") as f:
                    json.dump(meta, f)
        with open(mpath, "w") as f:
            json.dump(d, f)
        before = _tree(out)
        with pytest.raises(ValueError, match=f"manifest version {version}"):
            load_index(out)
        with pytest.raises(ValueError, match=f"manifest version {version}"):
            extend_index(spark, index, spark.createDataFrame(
                synth_corpus(10, seed=6, start=40), SCHEMA))
        # resume=True is the in-place path (resume=False explicitly clears
        # the whole directory first): it must refuse, not rebuild over
        # tables the unreadable manifest still references
        with pytest.raises(ValueError, match="refusing to"):
            build_index(spark.createDataFrame(rows, SCHEMA), out, resume=True, **kw)
        assert _tree(out) == before, version


def test_every_writer_emits_the_v4_shape(spark, tmp_path):
    """What every reader assumes of a v4 index, pinned on the three
    writers: build_index, import_postings and extend_index."""
    import glob
    import json
    import os

    from flatnav_spark.build import import_postings

    def shape(index):
        markers = []
        for f in glob.glob(os.path.join(index.path, "_stage1", "*", "_DONE.json")):
            with open(f) as fh:
                markers.append(json.load(fh))
        for meta in markers:
            assert {"min_doc_id", "max_doc_id"} <= meta.keys(), meta
            assert "n_groups" in meta or not str(meta["group"]).isdigit(), meta
        assert {"floor_dl10", "floor_dl100"} <= set(index.term_stats(spark).columns)
        with open(os.path.join(index.path, "manifest.json")) as f:
            assert "max_dl" in json.load(f)["metrics"]
        return sorted(str(meta["group"]) for meta in markers)

    rows = synth_corpus(60, seed=5)
    index = build_index(spark.createDataFrame(rows[:40], SCHEMA), str(tmp_path / "b"),
                        mode="code", n_splits=4, n_groups=2, block_range=64,
                        out_partitions=2)
    assert shape(index) == ["0", "1"]
    ext = extend_index(spark, index, spark.createDataFrame(rows[40:], SCHEMA),
                       out_partitions=2)
    assert shape(ext) == ["0", "1", "ext0"]
    flat = spark.createDataFrame([("alpha", 0, 2), ("beta", 0, 1), ("alpha", 7, 1)],
                                 "term string, doc_id long, tf int")
    imported = import_postings(spark, flat, str(tmp_path / "i"), block_range=64,
                               n_splits=4, out_partitions=2)
    assert shape(imported) == ["import0"]


def test_extend_keeps_the_books_of_a_fresh_build(spark, tmp_path):
    """Build and extend commit through one bookkeeping path: an extended
    index's manifest counters equal those of a fresh build over the union
    corpus, and validate_index passes on it before any optimize."""
    from flatnav_spark.maintenance import validate_index

    rows = synth_corpus(100, seed=5)
    kw = dict(mode="code", n_splits=8, n_groups=2, block_range=64, out_partitions=4)
    index = build_index(spark.createDataFrame(rows[:70], SCHEMA),
                        str(tmp_path / "ext"), **kw)
    ext = extend_index(spark, index, spark.createDataFrame(rows[70:], SCHEMA),
                       out_partitions=4)
    assert len(ext.manifest.postings_dirs) == 2
    validate_index(spark, ext)
    fresh = build_index(spark.createDataFrame(rows, SCHEMA),
                        str(tmp_path / "fresh"), **kw)

    def books(m):
        return (m.n_docs, m.total_dl, m.n_postings, m.n_terms,
                m.metrics["max_dl"], m.metrics["skew_ratio_max_df_over_mean"])

    assert books(ext.manifest) == books(fresh.manifest)
