"""Similarity search over embedding columns (array<float>).

  * cosine_topk      — exact brute-force top-k for a broadcast query set,
                       entirely in JVM higher-order functions (zip_with +
                       aggregate): the correctness baseline.
  * cosine_topk_lsh  — random-hyperplane LSH bucketing as the scale path:
                       each vector lands in 2^n_planes buckets; only
                       bucket-colliding pairs are scored.  Approximate
                       (recall < 1), used when the query set is not small.

Scale notes: the exact variant broadcasts the (small) query set — shuffle-
free, one scan; cost is O(N * Q * dim) JVM-side.  The LSH variant shuffles
by bucket id, so cost tracks bucket occupancy, with the plane count as the
recall/cost dial.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType


def _vectors_matrix(col: "pa.Array", dim: int | None) -> tuple["np.ndarray", int]:
    """Dense (n, dim) float64 matrix from an Arrow list column, validating
    that every row has the same length (a short/odd row would otherwise
    silently read the neighbor's components)."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    offsets = col.offsets.to_numpy().astype(np.int64)
    lens = np.diff(offsets)
    if len(lens) == 0:
        return np.empty((0, dim or 0)), dim or 0
    if dim is None:
        dim = int(lens[0])
    if not (lens == dim).all():
        bad = int(np.flatnonzero(lens != dim)[0])
        raise ValueError(
            f"embedding length mismatch: row {bad} has {int(lens[bad])} elements, expected {dim}"
        )
    flat = col.values.to_numpy(zero_copy_only=False).astype(np.float64)
    return flat[offsets[:-1, None] + np.arange(dim)[None, :]], dim


def _cosine_expr(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector (self excluded).

    Returns (qid, nid, cos_pct: bigint) with cos_pct = floor(1e6 * cosine)
    — integer-exact output for oracle hashing; ties broken by nid.
    """
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    e = emb.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).cast("array<double>").alias("nv"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("nid") != F.col("qid"))
        .withColumn("cos", _cosine_expr(F.col("qv"), F.col("nv")))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "qid",
            "nid",
            F.floor(F.lit(1_000_000) * F.col("cos")).cast("long").alias("cos_pct"),
        )
    )


def hyperplane_buckets(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(vec_id, table, bucket) — multi-table random-hyperplane LSH.
    Vector lengths are validated against `dim` (mismatches raise).

    Each of `n_tables` hash tables uses `n_planes` hyperplanes; a pair with
    cosine c collides in one table w.p. (1 - acos(c)/pi)^n_planes, and the
    table count is the recall dial: recall = 1 - (1 - p)^n_tables.  All sign
    computations happen in one (n, dim) x (dim, T*P) matmul per Arrow batch.
    """
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables * n_planes, dim)).astype(np.float64)
    src = emb.select(id_col, vec_col)
    out_schema = StructType(
        [
            src.schema[id_col],
            StructField("table", IntegerType(), False),
            StructField("bucket", IntegerType(), False),
        ]
    )
    weights = (1 << np.arange(n_planes)).astype(np.int32)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            mat, _ = _vectors_matrix(batch.column(vec_col), dim)
            signs = ((mat @ planes.T) > 0).astype(np.int32)  # (n, T*P)
            buckets = signs.reshape(n, n_tables, n_planes) @ weights  # (n, T)
            ids = pc.take(
                batch.column(id_col), pa.array(np.repeat(np.arange(n), n_tables))
            )
            yield pa.RecordBatch.from_pydict(
                {
                    id_col: ids,
                    "table": pa.array(np.tile(np.arange(n_tables, dtype=np.int32), n)),
                    "bucket": pa.array(buckets.astype(np.int32).ravel()),
                }
            )

    return src.mapInArrow(fn, out_schema)


def train_ivf_centroids(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nlist: int = 16,
    sample_rows: int = 4096,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Deterministic mini k-means on a driver-side sample -> (nlist, dim)
    L2-normalized centroids.  The sample is tiny and seeded; training cost
    is O(sample * nlist * iters) on the driver — the classic IVF recipe.

    The sample is `orderBy(id).limit(n)` — a distributed TopK, so it is
    identical regardless of partitioning (a bare `limit` without ordering
    depends on cluster partition order and would break the seeded-
    determinism contract)."""
    sample = np.array(
        [
            r[1]
            for r in emb.select(id_col, vec_col)
            .orderBy(F.col(id_col).asc())
            .limit(sample_rows)
            .collect()
        ],
        dtype=np.float64,
    )
    sample /= np.linalg.norm(sample, axis=1, keepdims=True) + 1e-12
    rng = np.random.default_rng(seed)
    centroids = sample[rng.choice(len(sample), size=min(nlist, len(sample)), replace=False)]
    for _ in range(iters):
        sims = sample @ centroids.T
        assign = sims.argmax(axis=1)
        for c in range(len(centroids)):
            members = sample[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
        centroids /= np.linalg.norm(centroids, axis=1, keepdims=True) + 1e-12
    return centroids


def ivf_assign(
    emb: DataFrame,
    centroids: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """(vec_id, cluster) — nearest centroid per vector, one Arrow pass."""
    src = emb.select(id_col, vec_col)
    out_schema = StructType([src.schema[id_col], StructField("cluster", IntegerType(), False)])
    cent = centroids.astype(np.float64)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            mat, _ = _vectors_matrix(batch.column(vec_col), dim)
            mat = mat / (np.linalg.norm(mat, axis=1, keepdims=True) + 1e-12)
            assign = (mat @ cent.T).argmax(axis=1).astype(np.int32)
            yield pa.RecordBatch.from_pydict(
                {id_col: batch.column(id_col), "cluster": pa.array(assign)}
            )

    return src.mapInArrow(fn, out_schema)


def cosine_topk_ivf(
    emb: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via IVF: score only vectors whose cluster is among
    each query's nprobe nearest centroids.  Scales the scored-pair count by
    ~nprobe/nlist versus brute force; recall rises with nprobe (== exact at
    nprobe = nlist).  Same output schema as cosine_topk."""
    spark = emb.sparkSession
    centroids = train_ivf_centroids(
        emb, id_col=id_col, vec_col=vec_col, dim=dim, nlist=nlist, seed=seed
    )
    assigned = ivf_assign(emb, centroids, id_col=id_col, vec_col=vec_col, dim=dim)
    e = (
        emb.select(F.col(id_col).alias("nid"), F.col(vec_col).cast("array<double>").alias("nv"))
        .join(assigned.withColumnRenamed(id_col, "nid"), "nid")
    )
    # query -> its nprobe candidate clusters (driver-side: queries are small)
    qrows = queries.select(id_col, vec_col).collect()
    qv = np.array([r[1] for r in qrows], dtype=np.float64)
    qv /= np.linalg.norm(qv, axis=1, keepdims=True) + 1e-12
    probes = np.argsort(-(qv @ centroids.T), axis=1)[:, :nprobe]
    q_pdf = [
        (r[0], [float(x) for x in r[1]], [int(c) for c in probes[i]])
        for i, r in enumerate(qrows)
    ]
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    id_type = queries.schema[id_col].dataType
    q_schema = StructType(
        [
            StructField("qid", id_type, False),
            StructField("qv", ArrayType(DoubleType(), False), False),
            StructField("clusters", ArrayType(IntegerType(), False), False),
        ]
    )
    q = spark.createDataFrame(
        q_pdf, schema=q_schema
    ).withColumn("cluster", F.explode("clusters")).drop("clusters")
    scored = (
        e.join(F.broadcast(q), "cluster")
        .filter(F.col("nid") != F.col("qid"))
        .withColumn("cos", _cosine_expr(F.col("qv"), F.col("nv")))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "qid",
            "nid",
            F.floor(F.lit(1_000_000) * F.col("cos")).cast("long").alias("cos_pct"),
        )
    )


def cosine_neardup_lsh(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
    threshold: float = 0.9,
    hot_bucket_docs: int | None = 4096,
) -> DataFrame:
    """Embedding near-duplicate pairs: bucket-colliding pairs verified by
    exact cosine >= threshold.  (a < b; cos_pct integer-exact.)

    Candidates use dedup's hot-bucket-safe _bucket_pair_join: a flooded
    hyperplane cell (e.g. near-zero embeddings all landing in one sign
    pattern) is split into deterministic id-hash block cells that
    partition its pair set — identical candidates, no single-task m^2/2
    expansion.  The bucket key is the exact (table, bucket) struct."""
    from .dedup import _bucket_pair_join

    b = hyperplane_buckets(
        emb,
        id_col=id_col,
        vec_col=vec_col,
        n_planes=n_planes,
        n_tables=n_tables,
        dim=dim,
        seed=seed,
    )
    banded = b.select(F.col(id_col), F.struct("table", "bucket").alias("bh"))
    cand = _bucket_pair_join(banded, id_col, hot_bucket_docs)
    vecs = emb.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    out = (
        cand.join(vecs.withColumnRenamed(id_col, "doc_a").withColumnRenamed("v", "va"), "doc_a")
        .join(vecs.withColumnRenamed(id_col, "doc_b").withColumnRenamed("v", "vb"), "doc_b")
        .withColumn("cos", _cosine_expr(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.floor(F.lit(1_000_000) * F.col("cos")).cast("long").alias("cos_pct"),
        )
    )
    return out


def gram_matrix(
    emb: DataFrame,
    vec_col: str = "embedding",
    *,
    fp_bits: int = 20,
    group_col: str | None = None,
    map_groups_budget: int = 4096,
) -> DataFrame:
    """Fixed-point Gram matrix of an embedding column: the d x d second-
    moment statistic G[i,j] = sum_rows e_i * e_j behind PCA whitening,
    covariance diagnostics, and low-rank compression of a training-data
    embedding table.

    Returns (d1: int, d2: int, gram_fp: long) for 1-based d1 <= d2, where
    gram_fp = sum_rows floor(e_{d1} * e_{d2} * 2^fp_bits) — each per-row
    product is floored to fixed point BEFORE summing, so the total is an
    order-free integer sum: bit-identical under any partitioning, and
    recomputable verbatim by a SQL oracle (float32 -> float64 widening and
    the double multiply are exact IEEE in both engines; floor and integer
    sum close the loop).  True G is recovered as gram_fp / 2^fp_bits with
    per-row error < 2^-fp_bits.

    With group_col, one Gram matrix per group (per-class covariance —
    the within-class second moments behind LDA-style diagnostics of an
    embedding table): output gains the group column, the kernel keeps one
    accumulator per (task, group), and the shuffle grows to
    O(tasks * groups_seen_per_task * d^2) partial rows — still never row
    data.

    Plan: map-only kernel computes each task's (d*(d+1)/2)-entry partial
    in numpy (column sweep, no n x d x d tensor), emits d*(d+1)/2 rows
    per task (per group); one map-side-combined groupBy sums partials.
    At extreme row counts shrink fp_bits so n_rows * max|e|^2 * 2^fp_bits
    stays below 2^63.
    """
    scale = float(1 << fp_bits)
    fields = [
        StructField("d1", IntegerType(), False),
        StructField("d2", IntegerType(), False),
        StructField("gram_fp", LongType(), False),
    ]
    if group_col is not None:
        fields = [StructField("__grp", StringType(), False)] + fields
    out_schema = StructType(fields)
    if group_col is None:
        src = emb.select(vec_col)
    else:
        src = emb.select(
            F.coalesce(F.col(group_col).cast("string"), F.lit("None")).alias("__grp"),
            vec_col,
        )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        accs: dict[str | None, np.ndarray] = {}
        dim = None

        def _emit() -> Iterator[pa.RecordBatch]:
            # flush the live accumulators as partial rows; the downstream
            # map-side-combined groupBy sums partials, so flushing at any
            # granularity is result-free (order-free integer sums)
            iu, ju = np.triu_indices(dim)
            for g, acc in accs.items():
                cols = {
                    "d1": pa.array((iu + 1).astype(np.int32)),
                    "d2": pa.array((ju + 1).astype(np.int32)),
                    "gram_fp": pa.array(acc[iu, ju]),
                }
                if group_col is not None:
                    cols = {"__grp": pa.array([g] * len(iu)), **cols}
                yield pa.RecordBatch.from_pydict(cols)
            accs.clear()

        for batch in batches:
            if batch.num_rows == 0:
                continue
            mat, dim = _vectors_matrix(batch.column(vec_col), dim)
            if group_col is None:
                groups = {None: np.arange(batch.num_rows)}
            else:
                gvals = np.asarray(batch.column("__grp").to_pylist())
                groups = {
                    g: np.flatnonzero(gvals == g) for g in np.unique(gvals)
                }
            for g, rows in groups.items():
                acc = accs.get(g)
                if acc is None:
                    acc = accs[g] = np.zeros((dim, dim), dtype=np.int64)
                sub = mat[rows]
                for i in range(dim):
                    prod = sub[:, i : i + 1] * sub[:, i:]  # (n_g, dim-i)
                    acc[i, i:] += np.floor(prod * scale).astype(np.int64).sum(axis=0)
            if len(accs) > map_groups_budget:
                # per-task memory stays bounded for high-cardinality
                # group_col (d x d int64 per live group): flush and reset —
                # the quantiles _grouped_build_fn budget pattern
                yield from _emit()
        if accs:
            yield from _emit()

    partials = src.mapInArrow(fn, out_schema)
    keys = (["__grp"] if group_col is not None else []) + ["d1", "d2"]
    out = partials.groupBy(*keys).agg(F.sum("gram_fp").alias("gram_fp"))
    if group_col is not None:
        out = out.withColumnRenamed("__grp", group_col)
        keys = [group_col, "d1", "d2"]
    return out.orderBy(*keys)


def fd_sketch(
    emb: DataFrame,
    vec_col: str = "embedding",
    *,
    l: int = 16,
):
    """Distributed Frequent Directions build over an embedding column
    (sketches/fd.py): each task folds its rows into an l x d partial
    sketch inside mapInArrow, one fixed-size blob per task crosses the
    wire, and the blobs merge through build_sketch_distributed — the same
    plan shape as every other family member, so a 100-TB embedding table
    costs one scan and ships tasks x (l*d*8) bytes."""
    from ..sketches.fd import FrequentDirections
    from .sketch_build import build_sketch_distributed

    def update(sk: FrequentDirections, batch: pa.RecordBatch, stats: dict) -> None:
        if batch.num_rows:
            mat, _ = _vectors_matrix(batch.column(vec_col), sk.dim)
            sk.update_batch(mat)
            stats["n_rows"] += batch.num_rows

    sk, _ = build_sketch_distributed(
        emb.select(vec_col), lambda: FrequentDirections(l=l), update
    )
    return sk
