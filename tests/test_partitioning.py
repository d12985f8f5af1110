"""Zero-job exact range partitioner (flatnav_spark/partitioning.py):
the driver-side murmur3 must match Spark's F.hash bit-for-bit (the whole
trick rests on it), and repartition_dense_range must place each dense-key
range alone in its own task — the layout repartitionByRange produces,
without its sampling job."""

import pytest
from pyspark.sql import functions as F

from flatnav_spark.partitioning import (
    bucket_tokens,
    murmur3_long,
    repartition_dense_range,
)


def test_murmur3_long_matches_spark_hash(spark):
    vals = [0, 1, 2, 7, 42, 12345, 2**31, 2**40 + 17, 2**63 - 1,
            -1, -2, -12345, -(2**63)]
    rows = spark.createDataFrame([(v,) for v in vals], "v long").select(
        "v", F.hash("v").alias("h")
    ).collect()
    for r in rows:
        assert murmur3_long(r.v) == r.h, r.v


def test_bucket_tokens_land_in_their_bucket(spark):
    for p in (2, 7, 32, 100):
        toks = bucket_tokens(p)
        assert len(toks) == p
        # Spark-side confirmation: pmod(hash(token), p) == index
        rows = spark.createDataFrame(
            [(i, t) for i, t in enumerate(toks)], "i int, tok long"
        ).select("i", F.pmod(F.hash("tok"), F.lit(p)).alias("b")).collect()
        for r in rows:
            assert r.b == r.i


def test_repartition_dense_range_contiguous_and_balanced(spark):
    n_keys, p = 37, 8
    df = spark.range(0, 50 * n_keys).select(
        (F.col("id") % n_keys).alias("key"), F.col("id").alias("payload")
    )
    out = repartition_dense_range(df, "key", n_keys, p)
    assert "_range_tok" not in out.columns
    got = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.min("key").alias("lo"), F.max("key").alias("hi"),
             F.countDistinct("key").alias("nk"), F.count("*").alias("n"))
        .orderBy("lo")
        .collect()
    )
    # every key range alone in its own task, contiguous, counts +/- 1
    assert len(got) == p
    assert sum(r.nk for r in got) == n_keys
    assert {r.nk for r in got} <= {n_keys // p, n_keys // p + 1}
    prev_hi = -1
    for r in got:
        assert r.lo == prev_hi + 1  # contiguous, disjoint
        prev_hi = r.hi
    assert prev_hi == n_keys - 1
    # rows preserved
    assert out.count() == 50 * n_keys


def test_repartition_dense_range_clamps_stale_bound(spark):
    # keys beyond the declared n_keys clamp into the LAST range (stale
    # lineage upper bound must never error or drop rows)
    df = spark.range(0, 20).select(F.col("id").alias("key"))
    out = repartition_dense_range(df, "key", 10, 4)
    assert out.count() == 20
    got = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").agg(F.max("key").alias("hi"), F.count("*").alias("n"))
        .orderBy("hi").collect()
    )
    # the overflow keys (10..19) all share the last range's task
    assert got[-1].n == 2 + 10


def test_repartition_dense_range_hash_fallback(spark):
    # n_keys >> partitions: plain hash path, still every row present
    df = spark.range(0, 10000).select((F.col("id") % 2000).alias("key"))
    out = repartition_dense_range(df, "key", 2000, 4)
    assert out.count() == 10000
    # a key's rows never split across tasks (hash on the key column)
    split = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("key").agg(F.countDistinct("pid").alias("np"))
        .filter("np > 1").count()
    )
    assert split == 0


def test_sampled_term_chunk_range_matches_repartition_by_range(spark, tmp_path):
    """r6 optimization: the driver-side sampled-boundary range partitioner
    replacing stage 2's repartitionByRange must (a) keep every (term,
    chunk_id) group whole in one partition, (b) produce contiguous
    ascending ranges across partition ids, and (c) yield a postings table
    with identical ROWS to a build forced down the repartitionByRange
    fallback (file layout may differ; content must not)."""
    from flatnav_spark.build import _group_docs_paths, build_index
    from flatnav_spark.corpus import synth_corpus
    from flatnav_spark.partitioning import (
        repartition_term_chunk_range, sample_term_chunk_boundaries)

    rows = synth_corpus(1200)
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")

    idx_a = build_index(corpus, str(tmp_path / "a"), mode="code", n_splits=8,
                        n_groups=1, block_range=64, chunk_blocks=2,
                        out_partitions=6)
    # the sample must exist and be usable at this size
    bounds = sample_term_chunk_boundaries(
        _group_docs_paths(str(tmp_path / "a")), 6, 64 * 2)
    assert bounds, "sample should produce boundaries for a 1200-doc corpus"
    assert bounds == sorted(set(bounds))

    # (a)+(b): partition placement of the exploded rows at those bounds
    from pyspark.sql import functions as F
    combined = spark.read.parquet(*_group_docs_paths(str(tmp_path / "a")))
    keyed = combined.select(
        "doc_id", F.explode("tfmap").alias("term", "tf")
    ).withColumn("chunk_id", (F.col("doc_id") / (64 * 2)).cast("long"))
    placed = (
        repartition_term_chunk_range(keyed, bounds)
        .withColumn("pid", F.spark_partition_id())
        .select("pid", "term", "chunk_id").collect()
    )
    per_pid = {}
    for r in placed:
        per_pid.setdefault(r.pid, []).append((r.term, r.chunk_id))
    ranges = {pid: (min(v), max(v)) for pid, v in per_pid.items()}
    ordered = [ranges[pid] for pid in sorted(ranges)]
    for (lo1, hi1), (lo2, hi2) in zip(ordered, ordered[1:]):
        assert hi1 < lo2  # contiguous, non-overlapping, ascending

    # (c): forced fallback build produces identical postings rows
    import flatnav_spark.partitioning as part_mod
    real = part_mod.sample_term_chunk_boundaries
    part_mod.sample_term_chunk_boundaries = lambda *a, **k: None
    try:
        idx_b = build_index(corpus, str(tmp_path / "b"), mode="code", n_splits=8,
                            n_groups=1, block_range=64, chunk_blocks=2,
                            out_partitions=6)
    finally:
        part_mod.sample_term_chunk_boundaries = real
    cols = ["term", "chunk_id", "n", "docs_bin", "tfs_bin", "dls_bin", "sum_tf"]
    rows_a = sorted(map(tuple, idx_a.postings(spark).select(*cols).collect()))
    rows_b = sorted(map(tuple, idx_b.postings(spark).select(*cols).collect()))
    assert rows_a == rows_b



@pytest.mark.parametrize("zero_chunk_reader", [False, True])
def test_segment_key_sampler_empty_files_fall_back(tmp_path, monkeypatch,
                                                   zero_chunk_reader):
    """Part files with no rows (an index built from an empty corpus) give
    no sample: the sampler returns None so optimize_index falls back to
    repartitionByRange. An empty file may read back as a table with no
    chunks at all, which pa.chunked_array cannot type."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flatnav_spark.partitioning import sample_segment_key_boundaries

    schema = pa.schema([("term", pa.string()), ("chunk_id", pa.int64()),
                        ("payload_len", pa.int64())])
    gens = []
    for g in range(2):
        d = tmp_path / f"gen{g}"
        d.mkdir()
        for i in range(2):
            pq.write_table(schema.empty_table(), str(d / f"part-{i}.parquet"))
        gens.append(str(d))
    if zero_chunk_reader:
        monkeypatch.setattr(
            pq, "read_table",
            lambda f, columns: pa.Table.from_batches([], schema).select(columns))
    assert sample_segment_key_boundaries(gens, 4) is None
