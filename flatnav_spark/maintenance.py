"""Index maintenance jobs — the graph-layout / introspection operators.

- ``optimize_index``: the gorder/RCM analog (util/Reordering.h:26-200,
  applied via Index::doGraphReordering, Index.h:412-440). flatnav permutes
  node ids and physically relocates rows for traversal locality; our
  locality lever is the parquet layout: rewrite postings range-partitioned
  by (term, chunk_id), sorted within partitions, with a target partition
  count — fewer/larger row groups, tighter term clustering, better
  row-group pruning for term lookups. Results are bit-identical before and
  after (same contract as reordering: ordering changes layout, not math).

- ``postings_table``: the getGraphOutdegreeTable analog (Index.h:240-251):
  materialize the compressed segments back into a flat, human-queryable
  DataFrame (term, doc_id, tf, dl) for diagnostics and tests.

- ``validate_index``: manifest-vs-tables consistency check (doc counts,
  posting counts, df sums) — the loadIndex metadata validation analog
  (Index.h:442-479).
"""

from __future__ import annotations

import os
from typing import Iterator, Optional

import numpy as np
import pandas as pd

from flatnav_spark.index_io import LoadedIndex


# layout strategies — the gorder/rcm pair (Reordering.h:26-117, 119-200):
# two physical orders over the same logical content, benchmarked against
# each other (tools/query_npy.cpp:34-41).
#   term: cluster by (term, chunk_id) — best term-pruned scans (gorder
#         analog: neighbors-of-a-term contiguous)
#   doc:  cluster by (chunk_id, term) — aligns with the query path's
#         chunk_id shuffle key, best when queries touch most terms (rcm
#         analog: breadth-first doc-range order)
LAYOUT_STRATEGIES = ("term", "doc")


def optimize_index(spark, index: LoadedIndex, out_partitions: Optional[int] = None,
                   strategy: str = "term") -> LoadedIndex:
    """Rewrite the postings table with a fresh clustered layout
    (``strategy`` in LAYOUT_STRATEGIES), COMPACTING all extend generations
    into one directory. In-place at the index path, like ``relabel``'s
    in-place permutation (Index.h:872-926), crash-safe via the
    write-new-dir-then-commit-manifest protocol: the compacted table goes
    to a fresh uniquely-named directory, the atomic manifest rewrite flips
    the reference, and only then are the superseded directories deleted —
    every crash point leaves the manifest pointing at one complete,
    consistent set of directories."""
    import shutil

    from flatnav_spark.index_io import IndexManifest

    if strategy not in LAYOUT_STRATEGIES:
        raise ValueError(f"unknown layout strategy {strategy!r}; expected one of {LAYOUT_STRATEGIES}")
    if out_partitions is None:
        out_partitions = max(spark.sparkContext.defaultParallelism // 2, 4)

    # operate on the ON-DISK state (the caller may hold a stale handle)
    caller_manifest = index.manifest
    m = IndexManifest.load(index.path)
    index = LoadedIndex(index.path, m)
    opt_gen = int(m.metrics.get("opt_gen", 0)) + 1
    new_dir = f"postings_opt{opt_gen}"
    keys = ["term", "chunk_id"] if strategy == "term" else ["chunk_id", "term"]
    # byte-weighted boundaries sampled driver-side from the generation
    # files themselves (payload_len is stored per segment row), instead
    # of repartitionByRange's sampling job re-reading every generation
    from flatnav_spark.partitioning import (repartition_at_bounds,
                                            sample_segment_key_boundaries)

    bounds = sample_segment_key_boundaries(
        [os.path.join(index.path, d) for d in m.postings_dirs],
        out_partitions, keys=tuple(keys))
    src = index.postings(spark)  # union of every generation
    part = (repartition_at_bounds(src, bounds, *keys) if bounds is not None
            else src.repartitionByRange(out_partitions, *keys))
    (
        part.sortWithinPartitions(*keys)
        .write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(os.path.join(index.path, new_dir))
    )
    old_dirs = list(m.postings_dirs)
    m.postings_dirs = [new_dir]
    m.metrics["optimized_partitions"] = out_partitions
    m.metrics["layout_strategy"] = strategy
    m.metrics["opt_gen"] = opt_gen
    m.save(index.path)  # atomic commit
    for d in old_dirs:
        shutil.rmtree(os.path.join(index.path, d), ignore_errors=True)
    # sync the caller's handle: the old directories are gone, so a stale
    # manifest would point a still-held LoadedIndex at deleted paths
    caller_manifest.__dict__.update(vars(m))
    return LoadedIndex(index.path, m)


def postings_table(spark, index: LoadedIndex):
    """Decode chunked segments to (term, doc_id, tf, dl) — diagnostics
    view. Each row's docs_bin is a concatenation of per-block gap runs
    (first gap of a run coded against that block's base)."""
    from flatnav_spark.codec import grouped_prefix_sums, varint_decode

    block_range = index.manifest.block_range

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            terms, doc_ids, tfs, dls = [], [], [], []
            for row in pdf.itertuples(index=False):
                gaps = varint_decode(row.docs_bin).astype(np.int64)
                counts = np.asarray(row.block_counts, dtype=np.int64)
                starts = np.zeros(counts.size, dtype=np.int64)
                np.cumsum(counts[:-1], out=starts[1:])
                # restart each run at its block base
                bases = np.asarray(row.block_ids, dtype=np.int64) * block_range
                ids = (grouped_prefix_sums(gaps, starts, counts)
                       + np.repeat(bases, counts))
                terms.append(np.repeat(np.array([row.term], dtype=object), len(ids)))
                doc_ids.append(ids)
                tfs.append(varint_decode(row.tfs_bin).astype(np.int64))
                dls.append(varint_decode(row.dls_bin).astype(np.int64))
            if terms:
                yield pd.DataFrame(
                    {
                        "term": np.concatenate(terms),
                        "doc_id": np.concatenate(doc_ids),
                        "tf": np.concatenate(tfs),
                        "dl": np.concatenate(dls),
                    }
                )

    return index.postings(spark).mapInPandas(decode, "term string, doc_id long, tf long, dl long")


def validate_index(spark, index: LoadedIndex) -> dict:
    """Cross-check manifest metadata against the tables; raises on drift.

    Returns the computed stats for reporting."""
    from pyspark.sql import functions as F

    m = index.manifest
    docs = index.docs(spark)
    stats = index.term_stats(spark)
    segs = index.postings(spark)

    row = docs.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
    ).collect()[0]
    seg_row = segs.agg(F.sum("n").alias("n_postings")).collect()[0]
    st_row = stats.agg(
        F.count(F.lit(1)).alias("n_terms"), F.sum("df").alias("df_sum")
    ).collect()[0]

    computed = {
        "n_docs": int(row["n_docs"]),
        "total_dl": int(row["total_dl"] or 0),
        "n_postings": int(seg_row["n_postings"] or 0),
        "n_terms": int(st_row["n_terms"] or 0),
        "df_sum": int(st_row["df_sum"] or 0),
    }
    problems = []
    if computed["n_docs"] != m.n_docs:
        problems.append(f"docs table has {computed['n_docs']} rows, manifest says {m.n_docs}")
    if computed["total_dl"] != m.total_dl:
        problems.append(f"dl sum {computed['total_dl']} != manifest {m.total_dl}")
    if computed["n_postings"] != m.n_postings:
        problems.append(f"postings {computed['n_postings']} != manifest {m.n_postings}")
    if computed["n_terms"] != m.n_terms:
        problems.append(f"terms {computed['n_terms']} != manifest {m.n_terms}")
    # every posting is one (term, doc) incidence: df sums must equal postings
    if computed["df_sum"] != computed["n_postings"]:
        problems.append(f"df sum {computed['df_sum']} != postings {computed['n_postings']}")
    if problems:
        raise ValueError("index validation failed: " + "; ".join(problems))
    return computed
