"""Positional postings + phrase queries — exact-sequence search.

The reference's role is top-k retrieval over an index
(include/flatnav/index/Index.h); a FULLTEXT index additionally owes its
users phrase search. This module adds it as an OPTIONAL artifact beside
the BM25 postings, with zero changes to the existing build/query paths:

- ``build_positions(spark, corpus, index)``: one pass over the corpus
  (joined to the index's docs table for the stable doc ids) emits
  (term, doc_id, positions array) via the same Arrow-vectorized
  tokenizer family as the main build, aggregated with ONE shuffle and
  written term-sorted (row-group pruning on the term filter, the same
  layout trick as the postings). The manifest records the artifact and
  the n_docs generation it was built against — the atomic commit point.
- ``phrase_query_batch(spark, index, queries_df, k)``: tokenizes each
  phrase driver-side (pure function) into (term, relative-offset)
  pairs, reads ONLY those terms' positions, and verifies adjacency
  entirely in JVM Column expressions: shift each term's positions back
  by its offset, intersect across the phrase's terms per (query, doc)
  (``aggregate`` + ``array_intersect`` — no UDF on the query path), and
  rank docs by occurrence count. One shuffle (the per-doc gather).

Position semantics follow the tokenizer mode (tokenizer.py): token-stream
index for ``simple``, raw-identifier index for ``code`` (subtokens share
their identifier's position, so identifier-sequence phrases work).

Staleness contract: after ``extend_index`` the manifest's n_docs moves
past positions_n_docs and phrase queries REFUSE until build_positions is
re-run — stale-but-silent results are never served. ``optimize_index``
relabels layout only (doc ids stable), so positions stay valid.

At 100 TB: the positions table is larger than the postings (every
occurrence, not every (term, doc)); it shares the corpus scan's
partitioning, the aggregation is a single map-side-combinable shuffle,
and the query path touches only the phrase's terms via the same
pushed-down term filter as BM25 — cost scales with the queried terms'
posting sizes, never the corpus.
"""

from __future__ import annotations

import os
from typing import List, Tuple

import pandas as pd

from flatnav_spark.index_io import LoadedIndex
from flatnav_spark.query import _term_stats
from flatnav_spark.tokenizer import get_pos_tokenizer

# data-sized output files, same policy as the postings merge (build.py)
_ROWS_PER_PARTITION = 2_000_000


def _positions_pairs_udf(mode: str):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    fn = get_pos_tokenizer(mode)
    schema = T.ArrayType(T.StructType([
        T.StructField("term", T.StringType()),
        T.StructField("pos", T.IntegerType()),
    ]))

    @F.pandas_udf(schema)
    def pos_udf(contents: pd.Series) -> pd.Series:
        return contents.map(lambda c: fn(c) if isinstance(c, str) else [])

    return pos_udf


def build_positions(spark, corpus, index: LoadedIndex,
                    out_partitions: int | None = None) -> LoadedIndex:
    """Build (or rebuild) the positional-postings artifact for ``index``
    from the SAME corpus it was built on. Writes a fresh generation
    directory and commits it via the manifest (write-new-dir-then-commit,
    crash-safe like index save, build.py S6). Verifies during the write
    that every corpus row matched a doc id; a mismatched corpus fails
    BEFORE the manifest moves."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    m = index.manifest
    docs = index.docs(spark).select("doc_id", "repo", "path", "commit")
    n_corpus = corpus.count()  # column-pruned scan; build-time only
    obs = Observation()
    joined = corpus.select("repo", "path", "commit", "content").join(
        docs, ["repo", "path", "commit"]
    ).observe(obs, F.count(F.lit(1)).alias("n_matched"))
    pos_udf = _positions_pairs_udf(m.tokenizer_mode)
    pairs = (
        joined.select("doc_id", F.explode(pos_udf(F.col("content"))).alias("tp"))
        .select("doc_id", F.col("tp.term").alias("term"), F.col("tp.pos").alias("pos"))
    )
    agg = pairs.groupBy("term", "doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("positions")
    )
    if out_partitions is None:
        # occurrences ~ n_docs * avgdl; (term, doc) rows are fewer — size
        # by distinct postings (n_postings is that count for the index)
        out_partitions = max(4, min(2048, m.n_postings // _ROWS_PER_PARTITION + 1))

    # never overwrite the directory a live manifest references (a crash
    # mid-write must leave the committed artifact readable — same
    # write-new-dir-then-commit protocol as index save)
    gen_dir = f"positions_g{m.n_docs}"
    if gen_dir == m.positions_dir:
        gen_dir += "_r"
    out_path = os.path.join(index.path, gen_dir)
    # term-sorted layout WITHOUT repartitionByRange: its sampling job
    # would re-execute this write's child — the corpus join + positions
    # UDF + groupBy, i.e. the entire (expensive) positions computation,
    # twice (r6; guide §2.4). Boundaries come from the same stage-1 file
    # sample the postings merge uses ((term, doc) cardinality equals the
    # postings', so posting mass is the right balance estimate), folded to
    # their terms.
    from flatnav_spark.build import _group_docs_paths
    from flatnav_spark.partitioning import (fold_to_terms, repartition_at_bounds,
                                            sample_term_chunk_boundaries)

    tb = fold_to_terms(sample_term_chunk_boundaries(
        _group_docs_paths(index.path), out_partitions,
        m.block_range * m.chunk_blocks))
    part = (repartition_at_bounds(agg, tb, "term") if tb
            else agg.repartitionByRange(out_partitions, "term"))
    (
        part.sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(out_path)
    )
    matched = int(obs.get["n_matched"])
    if matched != n_corpus:
        raise ValueError(
            f"positions corpus mismatch: {n_corpus} corpus rows but only "
            f"{matched} matched the index's docs table — is this the corpus "
            "the index was built on?")
    old_dir = m.positions_dir
    m.positions_dir = gen_dir
    m.positions_n_docs = m.n_docs
    m.save(index.path)
    if old_dir and old_dir != gen_dir:
        import shutil

        shutil.rmtree(os.path.join(index.path, old_dir), ignore_errors=True)
    return index


def phrase_terms(phrase: str, mode: str) -> List[Tuple[str, int]]:
    """(term, relative offset) pairs for a phrase under the index's
    tokenizer mode — the driver-side half of phrase matching."""
    return get_pos_tokenizer(mode)(phrase)


def _slop_occurrences(hits, slop: int):
    """(query_id, doc_id, n_occ) for ordered proximity matching over the
    gathered position rows. Two-level reduction, all JVM Column ops:

    1. per (query, doc, phrase-offset): every term sharing that offset
       (code-mode subtokens of one identifier) must share a document
       position — intersect their position arrays (same fold as the
       exact path, unshifted).
    2. per (query, doc): fold the offset groups in phrase order carrying,
       for each start position of the first group, the SET of reachable
       end positions; a step keeps positions p of the next group with
       some reachable e satisfying e < p <= e + gapmax, where gapmax =
       (offset delta) + slop. n_occ = starts whose reachable set survives
       the whole phrase — with slop=0 and unit offset deltas this is
       exactly the shifted-intersection count of the exact path.

    The reachable-SET (not greedy min) matters: with slop, taking the
    smallest eligible next position can strand a chain that a later
    eligible position would complete, so a greedy fold undercounts."""
    from pyspark.sql import functions as F

    per_off = (
        hits.groupBy("query_id", "doc_id", "off").agg(
            F.count("*").alias("n_present"),
            F.max("n_at_off").alias("n_at_off"),
            F.max("n_offs").alias("n_offs"),
            F.collect_list("positions").alias("arrs0"),
        )
        .filter(F.col("n_present") == F.col("n_at_off"))
        .withColumn("pos_arr", F.aggregate(
            F.slice(F.col("arrs0"), 2,
                    F.greatest(F.size("arrs0") - 1, F.lit(0))),
            F.element_at(F.col("arrs0"), 1),
            lambda acc, x: F.array_intersect(acc, x)))
        .filter(F.size("pos_arr") > 0)
    )
    per_doc = (
        per_off.groupBy("query_id", "doc_id").agg(
            F.count("*").alias("n_offs_present"),
            F.max("n_offs").alias("n_offs"),
            F.array_sort(
                F.collect_list(F.struct("off", "pos_arr"))).alias("sa"),
        )
        .filter(F.col("n_offs_present") == F.col("n_offs"))
    )
    chain = f"""size(filter(
        aggregate(
          transform(slice(sa, 2, size(sa) - 1), (x, i) ->
            named_struct('gapmax', x.off - sa[i].off + {int(slop)},
                         'arr', x.pos_arr)),
          transform(sa[0].pos_arr, s ->
            named_struct('start', s, 'ends', array(s))),
          (acc, st) -> transform(acc, c ->
            named_struct('start', c.start,
              'ends', filter(st.arr, p ->
                exists(c.ends, e -> p > e AND p <= e + st.gapmax))))),
        c -> size(c.ends) > 0))"""
    return (
        per_doc.withColumn("n_occ", F.expr(chain).cast("long"))
        .filter(F.col("n_occ") > 0)
        .select("query_id", "doc_id", "n_occ")
    )


def phrase_query_batch(spark, index: LoadedIndex, queries_df, k: int = 10,
                       slop: int = 0):
    """Top-k phrase matches for a DataFrame of (query_id, phrase_text).

    Returns (query_id, rank, doc_id, n_occ): docs containing the exact
    token sequence, ranked by occurrence count desc, doc_id asc. A doc
    matches iff every (term, offset) pair of the phrase has an occurrence
    at base+offset for some base — computed as the intersection over the
    phrase's terms of (positions - offset). Queries whose phrase has a
    term absent from the index return no rows (no occurrence can exist);
    empty phrases return no rows.

    ``slop > 0`` relaxes exact adjacency to ordered proximity: the
    phrase's terms must appear in order, with each consecutive pair at
    most ``slop`` extra positions apart (gap in [1, 1+slop] instead of
    exactly 1; terms sharing a phrase offset — code-mode subtokens of one
    identifier — must still share a document position). ``n_occ`` counts
    start positions that begin at least one valid chain, so ``slop=0``
    through this definition IS the exact semantics (a regression test
    pins the equivalence). Evaluated entirely in JVM Column ops: per-doc
    chain propagation is a fold over the phrase's offset groups carrying,
    per start, the set of reachable end positions (nested higher-order
    functions — transform/filter/exists — no UDF)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    m = index.manifest
    if not m.positions_dir:
        raise ValueError(
            "index has no positions artifact; run build_positions first "
            "(python -m flatnav_spark positions)")
    if m.positions_n_docs != m.n_docs:
        raise ValueError(
            f"positions artifact is stale (built at {m.positions_n_docs} docs, "
            f"index now {m.n_docs}); re-run build_positions after extend")

    q_rows = queries_df.select("query_id", "phrase_text").collect()
    pair_rows = []
    for r in q_rows:
        pairs = phrase_terms(r["phrase_text"] or "", m.tokenizer_mode)
        # dedupe (term, offset): code mode can emit the same subtoken
        # twice at one raw position (e.g. "go_go" -> go@0, go@0)
        for term, off in sorted(set(pairs)):
            pair_rows.append((int(r["query_id"]), term, int(off)))
    if not pair_rows:
        return spark.createDataFrame(
            [], "query_id long, rank int, doc_id long, n_occ long")
    n_pairs_of = {}
    n_at_off_of = {}
    offs_of = {}
    for qid, _, off in pair_rows:
        n_pairs_of[qid] = n_pairs_of.get(qid, 0) + 1
        n_at_off_of[(qid, off)] = n_at_off_of.get((qid, off), 0) + 1
        offs_of.setdefault(qid, set()).add(off)

    # candidate pruning by the RAREST term (classic phrase-eval order):
    # a matching doc must contain every phrase term, so gather the hot
    # terms' (large) position rows only for docs that contain the
    # query's min-df term — without this, one stop-word-grade term drags
    # its positions for EVERY doc through the shuffle. df comes from the
    # index's term stats (query._term_stats: the preloaded cache when
    # something armed it, else one tiny filtered read); an unindexed term
    # has df 0 = rarest, correctly emptying the candidate set.
    needed = sorted({t for _, t, _ in pair_rows})
    df_of = dict.fromkeys(needed, 0)
    for t, st in _term_stats(spark, index, needed).items():
        df_of[t] = st["df"]
    rarest_of = {}
    for qid, t, _ in pair_rows:
        cur = rarest_of.get(qid)
        if cur is None or (df_of[t], t) < (df_of[cur], cur):
            rarest_of[qid] = t

    pairs_df = F.broadcast(spark.createDataFrame(
        [(qid, t, off, n_pairs_of[qid], n_at_off_of[(qid, off)],
          len(offs_of[qid]), t == rarest_of[qid])
         for qid, t, off in pair_rows],
        "query_id long, term string, off int, n_pairs int, "
        "n_at_off int, n_offs int, rare boolean",
    ))

    positions = spark.read.parquet(os.path.join(index.path, m.positions_dir))
    # literal IN filter reaches the parquet scan (term-sorted layout ->
    # row-group pruning); phrase batches are small, so no semi-join needed
    hits = positions.filter(F.col("term").isin(needed)).join(pairs_df, "term")
    # the candidate branch scans ONLY the rarest terms' rows (its own
    # row-group-pruned read — deriving it from `hits` would re-execute
    # the full all-terms scan, measured 2x slower); the semi-join keys
    # (query_id, doc_id) match the downstream groupBy, so the exchange
    # is reused, not added
    rare_terms = sorted(set(rarest_of.values()))
    candidates = (
        positions.filter(F.col("term").isin(rare_terms))
        .join(pairs_df.filter(F.col("rare")), "term")
        .select("query_id", "doc_id")
        .distinct()
    )
    hits = hits.join(candidates, ["query_id", "doc_id"], "left_semi")

    if slop > 0:
        inter = _slop_occurrences(hits, slop)
    else:
        shifted = hits.select(
            "query_id", "doc_id", "n_pairs",
            F.transform(F.col("positions"),
                        lambda p: p - F.col("off")).alias("starts"),
        )
        grouped = shifted.groupBy("query_id", "doc_id").agg(
            F.count("*").alias("n_terms_present"),
            F.max("n_pairs").alias("n_pairs"),
            F.collect_list("starts").alias("arrs"),
        )
        inter = (
            grouped.filter(F.col("n_terms_present") == F.col("n_pairs"))
            .withColumn(
                "occ",
                F.aggregate(
                    F.slice(F.col("arrs"), 2,
                            F.greatest(F.size("arrs") - 1, F.lit(0))),
                    F.element_at(F.col("arrs"), 1),
                    lambda acc, x: F.array_intersect(acc, x),
                ),
            )
            .withColumn("n_occ", F.size("occ").cast("long"))
            .filter(F.col("n_occ") > 0)
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("n_occ"), F.asc("doc_id"))
    return (
        inter.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "doc_id", "n_occ")
    )


def phrase_query(spark, index: LoadedIndex, phrase: str,
                 k: int = 10, slop: int = 0) -> List[Tuple[int, int, int]]:
    """Single-phrase convenience: [(rank, doc_id, n_occ)]."""
    qdf = spark.createDataFrame(
        [(0, phrase)], "query_id long, phrase_text string")
    rows = phrase_query_batch(spark, index, qdf, k=k, slop=slop).collect()
    return sorted((int(r.rank), int(r.doc_id), int(r.n_occ)) for r in rows)
