"""Similarity search over embedding columns (array<float>).

Two plans with one answer shape (query_id, vec_id, cos_sim, rank):

- **brute-force top-k** — the correctness baseline: broadcast the query
  set, compute cosine natively (zip_with/aggregate in whole-stage
  codegen), rank per query.  Exact; scan cost O(n_corpus x n_queries).
- **LSH-bucketed top-k** — the scale path: random-hyperplane signatures
  (seeded, deterministic) assign each vector a bucket; queries probe
  their bucket and all 1-bit-flip neighbors (multi-probe), then rerank
  exactly within the probed set.  At 100 TB this turns a full-corpus
  scan per query into a bucket-local join on uniformly distributed keys.

Every plan reads the corpus columns ``vec_id`` / ``embedding`` and the
query columns ``query_id`` / ``query_vec``.

Signatures are computed by an Arrow UDF — one numpy matmul per Arrow
batch against a broadcast hyperplane matrix (a few KB).
"""
from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import LongType


def _valid_matrix(vecs: pa.Array) -> tuple:
    """(non-null row positions, their vectors as one float64 matrix)."""
    rows = vecs.to_pylist()
    valid = [i for i, v in enumerate(rows) if v is not None]
    return valid, np.asarray([rows[i] for i in valid], dtype=np.float64)


def cosine_sim(a: Column, b: Column) -> Column:
    """Native cosine over two array<float/double> columns (double math)."""
    ad = a.cast("array<double>")
    bd = b.cast("array<double>")
    dot = F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.zip_with(ad, ad, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.zip_with(bd, bd, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact top-k neighbors per query (excluding self-matches by id)."""
    q = F.broadcast(queries.select("query_id", "query_vec"))
    scored = corpus.select("vec_id", "embedding").crossJoin(q).select(
        "query_id",
        "vec_id",
        F.round(cosine_sim(F.col("embedding"), F.col("query_vec")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def lsh_planes(dim: int, n_planes: int = 12, seed: int = 42) -> np.ndarray:
    """The seeded Gaussian hyperplane matrix (dim, n_planes) used for LSH
    bucketing.  Exposed so an external oracle (e.g. DuckDB SQL with the
    planes inlined as literals) can recompute the identical buckets."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim, n_planes)).astype(np.float64)


def fixed_unit_centroids(dim: int, n_cells: int, seed: int = 7) -> np.ndarray:
    """Data-independent unit centroids (seeded Gaussian, L2-normalized).

    The production IVF path trains centroids with spherical k-means
    (train_coarse_quantizer) — better cell balance, but data-dependent.
    This fixed variant exercises the identical assign/probe/rerank
    machinery with centroids any engine can reproduce from the seed, which
    is what lets the driver's DuckDB oracle value-check the IVF plan."""
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((n_cells, dim)).astype(np.float64)
    return c / np.clip(np.linalg.norm(c, axis=1, keepdims=True), 1e-12, None)


def make_lsh_bucket_udf(dim: int, n_planes: int = 12):
    """Random-hyperplane signature UDF: vector -> long bucket id (the sign
    bit pattern against ``n_planes`` seeded Gaussian hyperplanes)."""
    planes = lsh_planes(dim, n_planes)

    @arrow_udf(LongType())
    def bucket(vecs: pa.Array) -> pa.Array:
        out = np.zeros(len(vecs), dtype=np.int64)
        valid, mat = _valid_matrix(vecs)
        if valid:
            signs = (mat @ planes) > 0
            ids = np.zeros(len(valid), dtype=np.int64)
            for b in range(n_planes):
                ids |= signs[:, b].astype(np.int64) << b
            out[valid] = ids
        return pa.array(out)

    return bucket


def lsh_topk(
    corpus: DataFrame, queries: DataFrame, dim: int, k: int = 10, n_planes: int = 12
) -> DataFrame:
    """Approximate top-k: bucket join + exact rerank inside buckets.

    Each query probes its own bucket and every 1-bit-flip neighbor bucket
    (n_planes+1 probes) — recall rises steeply for small extra fan-out
    because near vectors differ in at most a few sign bits.
    """
    bucket_udf = make_lsh_bucket_udf(dim, n_planes)
    c = corpus.select("vec_id", "embedding").withColumn("bucket", bucket_udf(F.col("embedding")))
    q = queries.select("query_id", "query_vec").withColumn(
        "bucket0", bucket_udf(F.col("query_vec"))
    )
    probes = F.array(
        F.col("bucket0"),
        *[F.col("bucket0").bitwiseXOR(F.lit(1 << b)) for b in range(n_planes)],
    )
    qx = q.select("query_id", "query_vec", F.explode(probes).alias("bucket"))
    joined = c.join(qx, "bucket").select(
        "query_id",
        "vec_id",
        F.round(cosine_sim(F.col("embedding"), F.col("query_vec")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.col("vec_id"))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def train_coarse_quantizer(
    corpus: DataFrame, dim: int, n_cells: int = 64, seed: int = 42
) -> np.ndarray:
    """Spherical k-means coarse quantizer for IVF (10 iterations), trained
    on a bounded driver-side sample (the centroid table is tiny — n_cells
    x dim — and is broadcast; the corpus itself is never collected).
    Returns L2-normalized centroids (n_cells, dim).

    The sample is the first 20,000 rows by ``vec_id`` — Spark plans an
    unsorted limit() as take-whatever-partition-answers-first, which would
    make the k-means init depend on partition layout; orderBy+limit
    compiles to TakeOrderedAndProject (per-partition heap, no full sort)
    and is deterministic for a given seed + corpus."""
    sample = [
        r["embedding"]
        for r in corpus.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(20_000)
        .collect()
        if r["embedding"] is not None
    ]
    x = np.asarray(sample, dtype=np.float64)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    x = x / np.clip(norms, 1e-12, None)
    rng = np.random.default_rng(seed)
    k = min(n_cells, len(x))
    cent = x[rng.choice(len(x), size=k, replace=False)]
    for _ in range(10):
        assign = np.argmax(x @ cent.T, axis=1)
        for c in range(k):
            members = x[assign == c]
            if len(members):
                m = members.sum(axis=0)
                cent[c] = m / max(np.linalg.norm(m), 1e-12)
    return cent


def make_ivf_cell_udf(centroids: np.ndarray):
    """vector -> nearest-centroid cell id (one matmul per Arrow batch)."""
    cent = centroids

    @arrow_udf(LongType())
    def cell(vecs: pa.Array) -> pa.Array:
        out = np.zeros(len(vecs), dtype=np.int64)
        valid, mat = _valid_matrix(vecs)
        if valid:
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            mat = mat / np.clip(norms, 1e-12, None)
            out[valid] = np.argmax(mat @ cent.T, axis=1)
        return pa.array(out)

    return cell


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_cells: int = 64,
    n_probe: int = 4,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k — the inverted-file scale path next to LSH.

    Plan: (1) train a spherical-kmeans coarse quantizer on a bounded
    sample; (2) assign every corpus vector to its nearest-centroid cell
    (Arrow UDF, narrow); (3) each query probes its ``n_probe``
    nearest cells; (4) exact cosine rerank inside the probed cells.

    At 100 TB the cell assignment is a narrow map fused into the scan, the
    probe join is an equi-join on a ~uniform cell key (cells are
    kmeans-balanced), and per-query work drops from full-scan to
    n_probe/n_cells of the corpus.  Writing the corpus partitioned by
    ``cell`` makes repeated query batches partition-pruned scans."""
    if centroids is None:
        centroids = train_coarse_quantizer(corpus, dim, n_cells=n_cells)
    cell_udf = make_ivf_cell_udf(centroids)
    c = corpus.select("vec_id", "embedding").withColumn("cell", cell_udf(F.col("embedding")))

    cent = centroids

    @arrow_udf("array<bigint>")
    def probe_cells(vecs: pa.Array) -> pa.Array:
        out = [[]] * len(vecs)
        valid, mat = _valid_matrix(vecs)
        if valid:
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            mat = mat / np.clip(norms, 1e-12, None)
            sims = mat @ cent.T  # one matmul per Arrow batch
            k_probe = min(n_probe, cent.shape[0])
            top = np.argsort(-sims, axis=1)[:, :k_probe]
            for row, i in enumerate(valid):
                out[i] = [int(t) for t in top[row]]
        return pa.array(out, type=pa.list_(pa.int64()))

    q = queries.select("query_id", "query_vec").withColumn(
        "cell", F.explode(probe_cells(F.col("query_vec")))
    )
    joined = c.join(q, "cell").select(
        "query_id",
        "vec_id",
        F.round(cosine_sim(F.col("embedding"), F.col("query_vec")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.col("vec_id"))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def embedding_near_dups(
    df: DataFrame, dim: int, min_cos: float = 0.95, multi_probe: bool = True
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b) via LSH blocking +
    exact cosine verify — the semantic arm of the dedup suite.

    With ``multi_probe`` (default) the left side also probes every
    1-bit-flip neighbor bucket, so a pair is only missed when its two
    vectors disagree on >= 2 of the 14 sign bits — for
    true near-dups (cos >= 0.95) that drives recall to ~1 at the cost of
    15x fan-out on one side of the bucket join, which stays a
    join on uniformly-distributed hash keys at 100 TB."""
    n_planes = 14
    bucket_udf = make_lsh_bucket_udf(dim, n_planes)
    v = df.select("vec_id", "embedding").withColumn("bucket", bucket_udf(F.col("embedding")))
    if multi_probe:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << b)) for b in range(n_planes)],
        )
        l = v.select("vec_id", "embedding", F.explode(probes).alias("bucket")).alias("l")
    else:
        l = v.alias("l")
    r = v.alias("r")
    pairs = (
        l.join(
            r,
            on=[
                F.col("l.bucket") == F.col("r.bucket"),
                F.col("l.vec_id") < F.col("r.vec_id"),
            ],
        )
        .select(
            F.col("l.vec_id").alias("a"),
            F.col("r.vec_id").alias("b"),
            F.col("l.embedding").alias("va"),
            F.col("r.embedding").alias("vb"),
        )
        .dropDuplicates(["a", "b"])
        .select(
            "a",
            "b",
            F.round(cosine_sim(F.col("va"), F.col("vb")), 6).alias("cos_sim"),
        )
    )
    return pairs.filter(F.col("cos_sim") >= min_cos)
