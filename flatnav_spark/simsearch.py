"""Similarity search over an embedding column (array<float>) — the direct
domain cousin of flatnav's ANN queries (Index.h:387-409), kept exact where
the corpus allows and LSH-bucketed as the scale path.

- ``cosine_topk``: brute-force exact cosine top-k, the baseline/oracle
  (flatnav's ground-truth generation role, experiments/README.md:205-211).
  Pure Spark SQL higher-order functions (zip_with + aggregate fold) —
  JVM-side, deterministic summation order (sequential fold), no UDF.
- ``lsh_cosine_topk``: random-hyperplane LSH buckets (signature = sign
  bits of dot products with deterministic seeded planes), candidates =
  banded bucket collisions (multi-band OR-probing), exact cosine
  re-scoring on candidates only. The signature is computed by ONE Arrow-
  vectorized pandas UDF doing a float64 matmul against the plane matrix
  shipped in the UDF closure (broadcast to executors) — no per-plane
  literal expressions, so it stays cheap at dim >> 64 and n_planes >> 32.
- ``lsh_duckdb_oracle_sql``: generates ANSI SQL (DuckDB dialect) that
  replays the identical algorithm — literal plane vectors, same band
  arithmetic, same re-scoring — so the driver can hash-check the LSH path
  end-to-end instead of recording a rows-only result.

Default sizing policy (the round-1 fix for "16 buckets at any scale"):
bits_per_band grows with corpus size so expected bucket occupancy stays
bounded (~TARGET_BUCKET_DOCS per bucket), n_bands stays at 8 OR-probes:

    bits_per_band = clamp(ceil(log2(n / TARGET_BUCKET_DOCS)), 4, 24)
    n_planes      = n_bands * bits_per_band

At n=10^9 that is 8 bands x 20 bits = 160 planes and ~1M buckets/band, so
the candidate join touches ~n_bands * TARGET_BUCKET_DOCS rows per query
instead of the corpus.
"""

from __future__ import annotations

import math
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

_SEED = 42
DEFAULT_N_BANDS = 8
TARGET_BUCKET_DOCS = 1024


def _dot(a, b):
    """Exact float64 dot product as a sequential SQL fold (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "qid",
    q_vec_col: str = "qe",
) -> DataFrame:
    """Exact cosine top-k: (qid, rank, vec_id, cos). Ranks on the ROUNDED
    score with vec_id tie-break (cross-engine deterministic). The query
    side is broadcast — the shared-read-only-index pattern of flatnav's
    batched search (bindings.cpp:196-212)."""
    q = F.broadcast(queries.select(F.col(q_id_col).alias("qid"), F.col(q_vec_col).alias("qe")))
    e = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("emb"))
    dots = q.crossJoin(e).select(
        "qid",
        "vec_id",
        F.round(_dot(F.col("qe"), F.col("emb")) / (_norm(F.col("qe")) * _norm(F.col("emb"))), 4).alias("cos"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        dots.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").cast("long").alias("qid"), "rank", F.col("vec_id").cast("long").alias("vec_id"), "cos")
    )


def _planes(dim: int, n_planes: int, seed: int = _SEED) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _make_band_signature_udf(planes: np.ndarray, n_bands: int):
    """Arrow-vectorized pandas UDF: embedding array -> array<long> of one
    bucket value per band (bits of that band's planes packed into an int).

    The plane matrix rides in the UDF closure (Spark broadcasts closures to
    executors once per stage) — the scale path the per-plane-literal
    approach could not take: one float64 matmul per Arrow batch computes
    every bit of every row. Per-band values (instead of one packed
    signature) keep n_planes unbounded (no 63-bit int cap)."""
    p = np.ascontiguousarray(planes, dtype=np.float64)
    n_planes = p.shape[0]
    bits_per_band = n_planes // n_bands
    weights = np.int64(1) << np.arange(bits_per_band, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def band_signature(embs: pd.Series) -> pd.Series:
        mat = np.stack(embs.to_numpy()).astype(np.float64, copy=False)
        bits = (mat @ p.T >= 0.0).reshape(len(mat), n_bands, bits_per_band)
        vals = bits @ weights  # (n, n_bands)
        return pd.Series(list(vals))

    return band_signature


def pick_lsh_size(n_vectors: int, n_bands: int = DEFAULT_N_BANDS) -> tuple[int, int]:
    """(n_planes, n_bands) sized so expected bucket occupancy stays near
    TARGET_BUCKET_DOCS regardless of corpus size."""
    bits = math.ceil(math.log2(max(n_vectors, 2) / TARGET_BUCKET_DOCS))
    bits = min(max(bits, 4), 24)
    return n_bands * bits, n_bands


def lsh_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: Optional[int] = None,
    n_bands: int = DEFAULT_N_BANDS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "qid",
    q_vec_col: str = "qe",
    dim: Optional[int] = None,
    seed: int = _SEED,
) -> DataFrame:
    """Approximate cosine top-k: hyperplane-LSH bucket join then exact
    re-scoring of candidates. ``n_planes`` bits split into ``n_bands``
    bands; a candidate matches if ANY band agrees (OR-probing: higher
    recall, more candidates). Returns (qid, rank, vec_id, cos) — identical
    schema to cosine_topk so recall can be joined/measured.

    When ``n_planes`` is None it is sized from the corpus count via
    pick_lsh_size (one count job). Scale shape: the band join shuffles
    (id, band_key) pairs only; exact scoring touches candidates, never the
    full corpus."""
    if dim is None:
        first = embeddings.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = int(first["d"])
    if n_planes is None:
        n_planes, n_bands = pick_lsh_size(embeddings.count(), n_bands)
    if n_planes % n_bands:
        raise ValueError(f"n_planes={n_planes} must be divisible by n_bands={n_bands}")
    planes = _planes(dim, n_planes, seed)
    sig_udf = _make_band_signature_udf(planes, n_bands)

    e = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("emb"))
    q = queries.select(F.col(q_id_col).alias("qid"), F.col(q_vec_col).alias("qe"))

    e = e.withColumn("sig", sig_udf(F.col("emb")))
    q = q.withColumn("sig", sig_udf(F.col("qe")))

    # id-first band join (round-2 VERDICT #6): the band explode + join +
    # dedup carries ONLY (id, band) pairs — embedding bytes never ride the
    # n_bands-wide shuffle. Vectors are re-joined once, per deduped
    # candidate, for exact re-scoring (the oracle SQL's shape).
    e_bands = e.select("vec_id", F.posexplode("sig").alias("band_id", "band_val"))
    q_bands = q.select("qid", F.posexplode("sig").alias("band_id", "band_val"))

    cand_ids = (
        q_bands.join(e_bands, ["band_id", "band_val"])
        .select("qid", "vec_id")
        .dropDuplicates(["qid", "vec_id"])
    )
    cand = cand_ids.join(
        F.broadcast(q.select("qid", "qe")), "qid"
    ).join(e.select("vec_id", "emb"), "vec_id")
    scored = cand.select(
        "qid",
        "vec_id",
        F.round(_dot(F.col("qe"), F.col("emb")) / (_norm(F.col("qe")) * _norm(F.col("emb"))), 4).alias("cos"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").cast("long").alias("qid"), "rank", F.col("vec_id").cast("long").alias("vec_id"), "cos")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 32,
    n_bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = _SEED,
    dim: Optional[int] = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, cos) with a < b and
    rounded cosine >= threshold, candidates restricted to hyperplane-LSH
    band collisions — the embedding-space sibling of textops'
    minhash_lsh_pairs (MMDS banding applied to random-hyperplane bits
    instead of minhash rows). Scale shape: the self-join carries only
    (id, band) pairs and is bucketed by band value — never all-pairs —
    and vectors are re-joined once per deduped candidate for the exact
    re-score. Same band arithmetic as lsh_cosine_topk, so
    near_dup_duckdb_oracle_sql replays it exactly."""
    if n_planes % n_bands:
        raise ValueError(f"n_planes={n_planes} must be divisible by n_bands={n_bands}")
    if dim is None:
        first = embeddings.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None:
            return embeddings.sparkSession.createDataFrame(
                [], "a long, b long, cos double")
        dim = int(first["d"])
    planes = _planes(dim, n_planes, seed)
    sig_udf = _make_band_signature_udf(planes, n_bands)

    e = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("emb"))
    bands = e.withColumn("sig", sig_udf(F.col("emb"))).select(
        "vec_id", F.posexplode("sig").alias("band_id", "band_val")
    )
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band_id", "band_val"])
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(F.col("x.vec_id").alias("a"), F.col("y.vec_id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    scored = (
        cand.join(e.select(F.col("vec_id").alias("a"), F.col("emb").alias("ea")), "a")
        .join(e.select(F.col("vec_id").alias("b"), F.col("emb").alias("eb")), "b")
        .select(
            F.col("a").cast("long").alias("a"),
            F.col("b").cast("long").alias("b"),
            F.round(_dot(F.col("ea"), F.col("eb")) / (_norm(F.col("ea")) * _norm(F.col("eb"))), 4).alias("cos"),
        )
    )
    return scored.filter(F.col("cos") >= threshold)


def near_dup_duckdb_oracle_sql(
    dim: int,
    threshold: float,
    n_planes: int,
    n_bands: int,
    table: str = "embeddings",
    seed: int = _SEED,
) -> str:
    """DuckDB replay of embedding_near_dup_pairs: identical literal
    planes, band packing, a<b candidate dedup, rounded re-score, and
    threshold filter (generated-oracle pattern of lsh_duckdb_oracle_sql)."""
    planes = _planes(dim, n_planes, seed)
    bits_per_band = n_planes // n_bands

    def plane_literal(p: np.ndarray) -> str:
        return "[" + ", ".join(repr(float(x)) for x in p) + "]"

    def band_val_expr(b: int) -> str:
        return " + ".join(
            f"(CASE WHEN list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> embedding[i]::DOUBLE * ({plane_literal(planes[b * bits_per_band + j])})[i])) >= 0 "
            f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
            for j in range(bits_per_band)
        )

    band_rows = "\nUNION ALL\n".join(
        f"SELECT vec_id, {b} AS band_id, {band_val_expr(b)} AS band_val FROM {table}"
        for b in range(n_bands)
    )
    return f"""
WITH bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
  FROM bands x JOIN bands y ON x.band_id = y.band_id AND x.band_val = y.band_val
  WHERE x.vec_id < y.vec_id
),
scored AS (
  SELECT CAST(c.a AS BIGINT) AS a, CAST(c.b AS BIGINT) AS b,
         round(list_sum(list_transform(range(1, {dim + 1}),
                  i -> av.embedding[i]::DOUBLE * bv.embedding[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(av.embedding, x -> x::DOUBLE * x::DOUBLE)))
            * sqrt(list_sum(list_transform(bv.embedding, x -> x::DOUBLE * x::DOUBLE)))), 4) AS cos
  FROM cand c
  JOIN {table} av ON av.vec_id = c.a
  JOIN {table} bv ON bv.vec_id = c.b
)
SELECT a, b, cos FROM scored WHERE cos >= {threshold}
"""


# ---------------------------------------------------------------------------
# IVF: coarse-quantizer ANN (closes SURVEY §2 C3 — reference
# CentroidsGenerator.h:40-44,63-66 runs Lloyd's k-means offline; the IVF
# probe is the classic inverted-file counterpart). Everything is rounded at
# fixed decimals each step so DuckDB can replay the identical computation:
#   init      = embeddings of the n_clusters smallest vec_ids (cid by id order)
#   assign    = argmin over round(squared-L2, 6), ties to the smallest cid
#   update    = per-component round(avg, 6); empty clusters keep their centroid
#   probe     = nprobe nearest centroids per query (same rounded metric)
#   re-score  = exact cosine on candidates, round 4, rank with vec_id tie-break
# The fit is an offline driver loop (centroids are small BY DEFINITION — the
# reference runs 62 Lloyd iterations offline too); each iteration is one
# distributed assign + one distributed per-component mean. The per-iteration
# collect moves n_clusters x dim doubles, never corpus rows.


def _sq_dists(mat: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """round(|x - c|^2, 6) per (row, centroid) — the replayable metric."""
    out = np.empty((mat.shape[0], centroids.shape[0]))
    for j in range(centroids.shape[0]):
        d = mat - centroids[j]
        out[:, j] = np.round(np.einsum("ij,ij->i", d, d), 6)
    return out


def _make_assign_udf(centroids: np.ndarray):
    c = np.ascontiguousarray(centroids, dtype=np.float64)

    @F.pandas_udf("int")
    def assign(embs: pd.Series) -> pd.Series:
        mat = np.stack(embs.to_numpy()).astype(np.float64, copy=False)
        # np.argmin takes the FIRST minimum -> ties break to the smallest cid
        return pd.Series(np.argmin(_sq_dists(mat, c), axis=1).astype(np.int32))

    return assign


def _make_probe_udf(centroids: np.ndarray, nprobe: int):
    c = np.ascontiguousarray(centroids, dtype=np.float64)

    @F.pandas_udf("array<int>")
    def probe(embs: pd.Series) -> pd.Series:
        mat = np.stack(embs.to_numpy()).astype(np.float64, copy=False)
        d = _sq_dists(mat, c)
        # stable sort breaks distance ties by index == cid, matching the
        # oracle's ORDER BY dist, cid
        idx = np.argsort(d, axis=1, kind="stable")[:, :nprobe].astype(np.int32)
        return pd.Series(list(idx))

    return probe


def kmeans_fit(
    embeddings: DataFrame,
    n_clusters: int,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Lloyd's k-means over a Spark DataFrame; returns the (n_clusters, dim)
    float64 centroid matrix. Deterministic and engine-replayable: seeded by
    the n_clusters smallest ids, every intermediate rounded (module
    docstring). Assignment is one Arrow-vectorized UDF pass (no corpus x
    centroid join); the update is posexplode + groupBy(cid, pos) avg — a
    map-side-combined agg of n_clusters x dim cells."""
    init_rows = embeddings.select(id_col, vec_col).orderBy(id_col).limit(n_clusters).collect()
    if len(init_rows) < n_clusters:
        raise ValueError(f"n_clusters={n_clusters} > corpus size {len(init_rows)}")
    c = np.round(np.array([r[1] for r in init_rows], dtype=np.float64), 6)
    dim = c.shape[1]
    for _ in range(n_iters):
        assign = _make_assign_udf(c)
        cells = (
            embeddings.select(F.col(vec_col).alias("emb"))
            .withColumn("cid", assign("emb"))
            .select("cid", F.posexplode("emb").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("v"))
            .collect()
        )
        nxt = c.copy()  # empty clusters keep their previous centroid
        for row in cells:
            nxt[row.cid, row.pos] = row.v
        c = nxt
    return c


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 8,
    nprobe: int = 3,
    n_iters: int = 2,
    centroids: Optional[np.ndarray] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "qid",
    q_vec_col: str = "qe",
) -> DataFrame:
    """IVF approximate cosine top-k: k-means coarse quantizer, candidates =
    members of each query's nprobe nearest clusters, exact cosine re-score.
    Same (qid, rank, vec_id, cos) schema as cosine_topk/lsh_cosine_topk so
    recall joins directly. Scale shape: the corpus is touched by ONE
    vectorized assign pass and the candidate join reads only probed
    clusters (~ nprobe/n_clusters of the corpus per query); the broadcast
    query side keeps corpus rows shuffle-free."""
    if centroids is None:
        centroids = kmeans_fit(embeddings, n_clusters, n_iters, id_col, vec_col)
    assign = _make_assign_udf(centroids)
    probe = _make_probe_udf(centroids, nprobe)

    e = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("emb"))
    e = e.withColumn("cid", assign("emb"))
    q = queries.select(F.col(q_id_col).alias("qid"), F.col(q_vec_col).alias("qe"))
    qp = q.select("qid", "qe", F.explode(probe("qe")).alias("cid"))

    cand = F.broadcast(qp).join(e, "cid")
    scored = cand.select(
        "qid",
        "vec_id",
        F.round(_dot(F.col("qe"), F.col("emb")) / (_norm(F.col("qe")) * _norm(F.col("emb"))), 4).alias("cos"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").cast("long").alias("qid"), "rank", F.col("vec_id").cast("long").alias("vec_id"), "cos")
    )


def ivf_duckdb_oracle_sql(
    dim: int,
    k: int,
    n_clusters: int,
    nprobe: int,
    n_iters: int,
    query_filter: str,
    table: str = "embeddings",
) -> str:
    """DuckDB SQL replaying kmeans_fit + ivf_topk exactly — chained CTEs run
    the same rounded Lloyd iterations (init by smallest vec_ids, rounded
    argmin assignment, rounded per-component means with empty-cluster
    carry-over), the same nprobe probe, and the same rounded cosine
    re-score, so the driver hash-checks the whole IVF path end-to-end
    (the generated-oracle pattern of lsh_duckdb_oracle_sql above)."""
    dist = (
        "round(list_sum(list_transform(range(1, {d}), "
        "i -> (e.embedding[i]::DOUBLE - c.cv[i]) * (e.embedding[i]::DOUBLE - c.cv[i]))), 6)"
    ).format(d=dim + 1)
    parts = [
        f"WITH e AS (SELECT vec_id, embedding FROM {table}),",
        # init: cid 0..n_clusters-1 over the n_clusters smallest vec_ids
        "c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,"
        " list_transform(embedding, x -> round(x::DOUBLE, 6)) AS cv"
        f" FROM e ORDER BY vec_id LIMIT {n_clusters}),",
    ]
    for it in range(n_iters):
        parts.append(
            f"a{it} AS (SELECT vec_id, cid FROM ("
            f"SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id"
            f" ORDER BY {dist}, c.cid) AS rn FROM e CROSS JOIN c{it} c) WHERE rn = 1),"
        )
        parts.append(
            f"c{it + 1} AS (SELECT c.cid, coalesce(u.cv, c.cv) AS cv FROM c{it} c"
            " LEFT JOIN (SELECT cid, list(v ORDER BY pos) AS cv FROM ("
            f"SELECT a.cid, t.i AS pos, round(avg(e.embedding[t.i]::DOUBLE), 6) AS v"
            f" FROM a{it} a JOIN e ON e.vec_id = a.vec_id"
            f" CROSS JOIN range(1, {dim + 1}) AS t(i)"
            " GROUP BY a.cid, t.i) GROUP BY cid) u ON u.cid = c.cid),"
        )
    fin = f"c{n_iters}"
    parts.append(
        f"afin AS (SELECT vec_id, cid FROM ("
        f"SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id"
        f" ORDER BY {dist}, c.cid) AS rn FROM e CROSS JOIN {fin} c) WHERE rn = 1),"
    )
    parts.append(f"q AS (SELECT vec_id AS qid, embedding AS qe FROM {table} WHERE {query_filter}),")
    qdist = dist.replace("e.embedding", "q.qe")
    parts.append(
        f"probe AS (SELECT qid, cid FROM ("
        f"SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid"
        f" ORDER BY {qdist}, c.cid) AS rn FROM q CROSS JOIN {fin} c) WHERE rn <= {nprobe}),"
    )
    parts.append(
        "cand AS (SELECT p.qid, a.vec_id FROM probe p JOIN afin a ON a.cid = p.cid),"
    )
    parts.append(
        "scored AS (SELECT c.qid, c.vec_id,"
        f" round(list_sum(list_transform(range(1, {dim + 1}),"
        " i -> qv.embedding[i]::DOUBLE * ev.embedding[i]::DOUBLE))"
        " / (sqrt(list_sum(list_transform(qv.embedding, x -> x::DOUBLE * x::DOUBLE)))"
        " * sqrt(list_sum(list_transform(ev.embedding, x -> x::DOUBLE * x::DOUBLE)))), 4) AS cos"
        f" FROM cand c JOIN {table} qv ON qv.vec_id = c.qid"
        f" JOIN {table} ev ON ev.vec_id = c.vec_id),"
    )
    parts.append(
        "ranked AS (SELECT qid, vec_id, cos, CAST(row_number() OVER"
        " (PARTITION BY qid ORDER BY cos DESC, vec_id) AS BIGINT) AS rank FROM scored)"
    )
    parts.append(
        f"SELECT CAST(qid AS BIGINT) AS qid, rank, CAST(vec_id AS BIGINT) AS vec_id, cos"
        f" FROM ranked WHERE rank <= {k}"
    )
    return "\n".join(parts)


def lsh_duckdb_oracle_sql(
    dim: int,
    k: int,
    n_planes: int,
    n_bands: int,
    query_filter: str,
    table: str = "embeddings",
    seed: int = _SEED,
) -> str:
    """DuckDB SQL replaying lsh_cosine_topk exactly: the same seeded plane
    matrix as literal vectors, the same band arithmetic on an integer
    signature, the same candidate-dedup + exact re-score + rounded-rank.
    Generated (like the minhash oracles above in checklist.py) so the
    driver can hash-check the approximate path, not just count rows."""
    planes = _planes(dim, n_planes, seed)
    bits_per_band = n_planes // n_bands

    def plane_literal(p: np.ndarray) -> str:
        return "[" + ", ".join(repr(float(x)) for x in p) + "]"

    def band_val_expr(b: int) -> str:
        # same bit packing as _make_band_signature_udf: bit j of band b is
        # the sign of plane (b * bits_per_band + j)
        return " + ".join(
            f"(CASE WHEN list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> embedding[i]::DOUBLE * ({plane_literal(planes[b * bits_per_band + j])})[i])) >= 0 "
            f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
            for j in range(bits_per_band)
        )

    band_rows = "\nUNION ALL\n".join(
        f"SELECT vec_id, {b} AS band_id, {band_val_expr(b)} AS band_val FROM {table}"
        for b in range(n_bands)
    )
    return f"""
WITH bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT q.vec_id AS qid, e.vec_id
  FROM bands q JOIN bands e ON q.band_id = e.band_id AND q.band_val = e.band_val
  WHERE q.vec_id IN (SELECT vec_id FROM {table} WHERE {query_filter})
),
scored AS (
  SELECT c.qid, c.vec_id,
         round(list_sum(list_transform(range(1, {dim + 1}),
                  i -> qv.embedding[i]::DOUBLE * ev.embedding[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(qv.embedding, x -> x::DOUBLE * x::DOUBLE)))
            * sqrt(list_sum(list_transform(ev.embedding, x -> x::DOUBLE * x::DOUBLE)))), 4) AS cos
  FROM cand c
  JOIN {table} qv ON qv.vec_id = c.qid
  JOIN {table} ev ON ev.vec_id = c.vec_id
),
ranked AS (
  SELECT qid, vec_id, cos,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
  FROM scored
)
SELECT CAST(qid AS BIGINT) AS qid, rank, CAST(vec_id AS BIGINT) AS vec_id, cos
FROM ranked WHERE rank <= {k}
"""
