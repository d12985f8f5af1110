"""Noop-sink isolation benchmarks (optimization guide §1.4) for the build
pipeline's two stages — the decomposition instrument behind
OPTIMIZATION_r06.md. Does NOT touch bench.py's frozen protocol.

Decomposes, at the headline corpus (zipf:200000, local[32]):

stage 1 (tokenize + id-assign + write):
    s1_idonly     corpus read -> split/window/doc_id     -> noop
    s1_tokenize   + content_sha/tfmap/dl (the pandas UDF) -> noop
    s1_full       the real per-group write (parquet zstd)

stage 2 (merge-encode-write):
    s2_explode    stage-1 read -> explode(tfmap)                  -> noop
    s2_hash_sort  + repartition(hash) + sortWithinPartitions      -> noop
                  (shuffle+sort WITHOUT range sampling: lower bound)
    s2_range_sort + repartitionByRange + sort                     -> noop
                  (adds the range-partitioner SAMPLING job, which
                  re-executes the read+explode child)
    s2_encode     + mapInArrow(segment encoder)                   -> noop
    s2_full       + parquet write (the real stage-2a)

Usage: python bench_extra.py [corpus_spec] [cpus]
Prints one JSON line per timing; numbers are wall seconds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(label, fn):
    t0 = time.perf_counter()
    fn()
    dt = time.perf_counter() - t0
    print(json.dumps({"phase": label, "sec": round(dt, 2)}), flush=True)
    return dt


def main():
    corpus_spec = sys.argv[1] if len(sys.argv) > 1 else "zipf:200000"
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else int(
        os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import bench as B
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from flatnav_spark.build import (
        DEFAULT_CHUNK_BLOCKS, _make_segment_encoder, _with_doc_features,
        build_index)
    from flatnav_spark.session import get_spark

    spark = get_spark(
        "bench_extra", cores=cpus, shuffle_partitions=max(cpus, 8),
        extra_conf={"spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024)},
    )
    sc = spark.sparkContext
    corpus = B._get_corpus(spark, "", corpus_spec)
    n_docs = corpus.count()
    n_splits, n_groups, block_range = 64, 2, 1024
    chunk_blocks = max(1, min(16, n_docs // (1024 * 96)))
    out_partitions = max(sc.defaultParallelism, 8, n_docs // 8192)

    tmp = tempfile.mkdtemp(prefix="flatnav_bx_", dir="/dev/shm")
    out_dir = os.path.join(tmp, "index")

    # warm-up (excluded): JIT + python worker pools, same as bench.py
    build_index(corpus.limit(500), out_dir + "_warm", mode="code", n_splits=8,
                n_groups=1, block_range=1024, out_partitions=4)
    shutil.rmtree(out_dir + "_warm", ignore_errors=True)

    corpus_split = corpus.withColumn(
        "split", F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(n_splits)).cast("long"))
    w = Window.partitionBy("split").orderBy("repo", "path", "commit")

    def s1_base(g):
        sub = corpus_split.filter(F.pmod(F.col("split"), F.lit(n_groups)) == g)
        return sub.withColumn("ordinal", F.row_number().over(w)).withColumn(
            "doc_id", (F.col("ordinal") - 1) * F.lit(n_splits) + F.col("split"))

    sc.setJobDescription("s1_idonly")
    timed("s1_idonly", lambda: [noop(s1_base(g).select(
        "doc_id", "repo", "path", "commit", "lang", "content")) for g in range(n_groups)])
    sc.setJobDescription("s1_tokenize")
    timed("s1_tokenize", lambda: [noop(_with_doc_features(s1_base(g), "code"))
                                  for g in range(n_groups)])
    sc.setJobDescription("s1_full(build stage1+stage2)")
    # the real thing, phase marks via FLATNAV_BUILD_TIMING in stderr
    os.environ["FLATNAV_BUILD_TIMING"] = "1"
    timed("build_full", lambda: build_index(
        corpus, out_dir, mode="code", n_splits=n_splits, n_groups=n_groups,
        block_range=block_range, chunk_blocks=chunk_blocks, out_partitions=None))

    # ---- stage-2 decomposition over the REAL stage-1 checkpoint ----
    from flatnav_spark.build import _group_docs_paths
    combined = spark.read.parquet(*_group_docs_paths(out_dir))
    tf_all = combined.select(
        "doc_id", F.col("dl").cast("int").alias("dl"),
        F.explode("tfmap").alias("term", "tf")
    )
    chunk_span = block_range * chunk_blocks
    keyed = tf_all.withColumn(
        "chunk_id", F.floor(F.col("doc_id") / F.lit(chunk_span)).cast("long"))
    sel = ["term", "doc_id", "tf", "dl"]

    sc.setJobDescription("s2_explode")
    timed("s2_explode", lambda: noop(keyed.select(*sel)))
    sc.setJobDescription("s2_hash_sort")
    timed("s2_hash_sort", lambda: noop(
        keyed.repartition(out_partitions, "term", "chunk_id")
        .sortWithinPartitions("term", "chunk_id", "doc_id").select(*sel)))
    sc.setJobDescription("s2_range_sort")
    timed("s2_range_sort", lambda: noop(
        keyed.repartitionByRange(out_partitions, "term", "chunk_id")
        .sortWithinPartitions("term", "chunk_id", "doc_id").select(*sel)))

    # the r6 production shape: driver-sampled boundaries, expression
    # routing, chunk_id never shuffled
    from flatnav_spark.build import _group_docs_paths
    from flatnav_spark.partitioning import (repartition_at_bounds,
                                            sample_term_chunk_boundaries)
    bounds = sample_term_chunk_boundaries(
        _group_docs_paths(out_dir), out_partitions, chunk_span)
    chunk_of = F.floor(F.col("doc_id") / F.lit(chunk_span)).cast("long")
    sc.setJobDescription("s2_sampled_sort")
    timed("s2_sampled_sort", lambda: noop(
        repartition_at_bounds(tf_all, bounds, "term", chunk_of)
        .sortWithinPartitions("term", "doc_id").select(*sel)))

    from pyspark.sql.pandas.types import from_arrow_schema

    from flatnav_spark.build import SEGMENT_SCHEMA
    seg_schema = from_arrow_schema(SEGMENT_SCHEMA)
    encode = _make_segment_encoder(block_range, chunk_blocks)

    def enc_df():
        return (
            keyed.repartitionByRange(out_partitions, "term", "chunk_id")
            .sortWithinPartitions("term", "chunk_id", "doc_id")
            .select(*sel).mapInArrow(encode, schema=seg_schema))

    sc.setJobDescription("s2_encode")
    timed("s2_encode", lambda: noop(enc_df()))
    sc.setJobDescription("s2_full")
    timed("s2_full", lambda: enc_df().write.mode("overwrite").parquet(
        os.path.join(tmp, "postings_probe")))

    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
