"""Zero-job exact range partitioner (flatnav_spark/partitioning.py):
the driver-side murmur3 must match Spark's F.hash bit-for-bit (the whole
trick rests on it), and repartition_dense_range must place each dense-key
range alone in its own task — the layout repartitionByRange produces,
without its sampling job."""

import pytest
from pyspark.sql import functions as F

from flatnav_spark.partitioning import (
    MAX_TOKEN_ROUTE_PARTS,
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


@pytest.mark.parametrize("lo", [0, 4096])
@pytest.mark.parametrize("n_keys,reps", [(37, 50), (8 * 64 + 5, 3)])
def test_repartition_dense_range_contiguous_and_balanced(spark, lo, n_keys, reps):
    # 37 keys: a few per task; 517 keys: >= 64 per task, the regime plain
    # hash partitioning was once used for
    p = 8
    df = spark.range(0, reps * n_keys).select(
        (F.col("id") % n_keys + lo).alias("key"), F.col("id").alias("payload")
    )
    out = repartition_dense_range(df, "key", n_keys, p, lo=lo)
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
    prev_hi = lo - 1
    for r in got:
        assert r.lo == prev_hi + 1  # contiguous, disjoint
        prev_hi = r.hi
    assert prev_hi == lo + n_keys - 1
    # rows preserved
    assert out.count() == reps * n_keys


def test_repartition_dense_range_caps_token_route_parts(spark):
    # an explicit request above the plan-size guard (a query pass with
    # num_partitions=5000 over 10k chunk ids) routes through at most
    # MAX_TOKEN_ROUTE_PARTS token buckets (checked on the plan: running
    # 4096 shuffle tasks would only time the local scheduler; building
    # the 4096-literal token array alone takes seconds over Py4J)
    assert MAX_TOKEN_ROUTE_PARTS == 4096
    df = spark.range(0, 10_000).select(F.col("id").alias("key"))
    out = repartition_dense_range(df, "key", 10_000, 5000)
    assert out.rdd.getNumPartitions() == MAX_TOKEN_ROUTE_PARTS


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


def test_sampled_term_chunk_range_matches_repartition_by_range(spark, tmp_path):
    """r6 optimization: the driver-side sampled-boundary range partitioner
    replacing stage 2's repartitionByRange must (a) keep every (term,
    chunk_id) group whole in one partition, (b) produce contiguous
    ascending ranges across partition ids — also for the one-key (term)
    form at the folded term boundaries, and (c) yield a postings table
    with identical ROWS to a build forced down the repartitionByRange
    fallback (file layout may differ; content must not)."""
    from flatnav_spark.build import _group_docs_paths, build_index
    from flatnav_spark.corpus import synth_corpus
    from flatnav_spark.partitioning import (
        fold_to_terms, repartition_at_bounds, sample_term_chunk_boundaries)

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
    terms = fold_to_terms(bounds)
    assert len(terms) > 1
    for cut, keys in ((bounds, ("term", "chunk_id")), (terms, ("term",))):
        placed = (
            repartition_at_bounds(keyed, cut, *keys)
            .withColumn("pid", F.spark_partition_id())
            .select("pid", *keys).collect()
        )
        per_pid = {}
        for r in placed:
            per_pid.setdefault(r.pid, []).append(tuple(r[k] for k in keys))
        assert len(per_pid) == len(cut) + 1
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


def test_folded_term_boundaries_ignore_chunk_span(tmp_path):
    """The term at each quantile position of a (term, chunk) sort does not
    depend on the chunk key, so folding the sampled (term, chunk) bounds to
    their terms gives one list at any chunk span — the term-only layouts
    (positions, stats) reuse the stage-2 sample instead of a sampler of
    their own."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flatnav_spark.partitioning import (fold_to_terms,
                                            sample_term_chunk_boundaries)

    rng = np.random.default_rng(3)
    vocab = [f"t{i:03d}" for i in range(300)]
    groups = []
    doc_id = 0
    for g in range(2):
        d = tmp_path / f"group={g}"
        d.mkdir()
        for f in range(3):
            maps = []
            for _ in range(40):
                terms = rng.choice(len(vocab), size=rng.integers(1, 30),
                                   replace=False)
                maps.append([(vocab[t], int(rng.integers(1, 5))) for t in terms])
            ids = np.arange(doc_id, doc_id + len(maps), dtype=np.int64)
            doc_id += len(maps)
            pq.write_table(pa.table({
                "doc_id": pa.array(ids),
                "tfmap": pa.array(maps, pa.map_(pa.string(), pa.int32())),
            }), str(d / f"part-{f}.parquet"))
        groups.append(str(d))

    for parts in (4, 9):
        by_span = [sample_term_chunk_boundaries(groups, parts, span)
                   for span in (1, 7, 1 << 62)]
        assert all(b for b in by_span)
        assert by_span[0] != by_span[2]  # the chunk keys do differ ...
        folded = [fold_to_terms(b) for b in by_span]
        assert folded[0] == folded[1] == folded[2]  # ... their terms do not
        assert len(folded[0]) > 1
        assert fold_to_terms(by_span[0], 2) == [folded[0][len(folded[0]) // 2]]


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
