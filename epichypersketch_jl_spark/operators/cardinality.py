"""Distinct-count (HyperLogLog) and membership (Bloom) operators.

Part of the generalized sketch family (BASELINE.json north_star).  Same
plan shape as the CMS build: partition-local numpy sketches inside
mapInArrow, merged associatively — per group when a group column is given
(each task emits one blob per group it saw; blobs merge across tasks).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import hash64
from ..functions.motif_kernels import list_column_to_numpy
from ..sketches.base import from_bytes
from ..sketches.bloom import BloomFilter
from ..sketches.hll import HyperLogLog
from .sketch_build import (
    GROUP_BLOB_SCHEMA,
    _GROUP_BLOB_ARROW,
    build_sketch_distributed,
    value_column_update,
)

def _task_group_codes(
    tid_of: dict[str, int], names: list[str], gcol: pa.Array
) -> np.ndarray:
    """Task-global group dictionary shared by the grouped sketch kernels:
    dictionary-encode one batch's group column and remap the batch-local
    codes onto the task-global id space, registering new names.  Only the
    batch's DISTINCT names touch Python."""
    import pyarrow.compute as pc

    denc = pc.dictionary_encode(gcol)
    codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    remap = np.empty(len(denc.dictionary), dtype=np.int64)
    for bi, name in enumerate(denc.dictionary.to_pylist()):
        name = str(name)
        tid = tid_of.get(name)
        if tid is None:
            tid = tid_of[name] = len(names)
            names.append(name)
        remap[bi] = tid
    return remap[codes]


def _hll_grouped(
    df: DataFrame, value_col: str, group_col: str, p: int, seed: int, is_list: bool
) -> DataFrame:
    """Grouped HLL build that stays scalable when the NUMBER OF GROUPS is
    large (the group column is data, not a 20-value dimension):

    - the map side computes hashes/register-updates for the whole Arrow
      batch at once, reduces to per-(group, register) maxima with one
      argsort + maximum.reduceat, and emits SPARSE blobs (5 bytes per
      distinct register, sketches/hll.py frame_sparse) — no per-group
      Python objects, no per-group dense 2^p register arrays, so a task
      that sees 100k groups allocates O(values) not O(groups * 2^p);
    - the merge is DISTRIBUTED and vectorized: blobs hash-partition by
      group (one row per task-group, sparse-sized) and a mapInArrow pass
      max-merges + estimates EVERY group in its partition with one
      argsort/reduceat — no per-group Python function calls
      (applyInPandas's per-group invocation overhead dominates at 100k
      groups), no driver collect.  The round-2 design collected every
      (task, group) blob to the driver, which at 100k groups x 32 tasks
      is ~52 GB of dense registers; measured in BENCH/grouped_micro.json:
      10 -> 100k groups over 5M values moves 1.9 s -> 4.1 s (~flat).

    Register contents are bit-identical to the dense path (shared
    hashes_to_sparse), so estimates are unchanged for any group count.
    """
    import pyarrow.compute as pc

    from ..sketches.hll import (
        estimate_from_sparse,
        frame_sparse,
        hashes_to_sparse,
        parse_sparse_blob,
    )

    m = 1 << p
    src = df.select(value_col, group_col)

    def _dedup_keys(key: np.ndarray, rank: np.ndarray):
        """Sort (key, rank) and keep the max rank per distinct key."""
        order = np.argsort(key, kind="stable")
        ks, rs = key[order], rank[order]
        starts = np.flatnonzero(np.concatenate(([True], ks[1:] != ks[:-1])))
        return ks[starts], np.maximum.reduceat(rs, starts)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # task-global group dictionary: per batch only the batch's DISTINCT
        # names hit Python; values flow through numpy end to end
        tid_of: dict[str, int] = {}
        names: list[str] = []
        key_chunks: list[np.ndarray] = []
        rank_chunks: list[np.ndarray] = []
        for batch in batches:
            if is_list:
                flat, offsets = list_column_to_numpy(batch.column(value_col))
            else:
                flat = batch.column(value_col).to_numpy(zero_copy_only=False)
                offsets = None
            if flat.size == 0:
                continue
            gcol = pc.fill_null(batch.column(group_col).cast(pa.string()), "None")
            tids = _task_group_codes(tid_of, names, gcol)
            vtids = np.repeat(tids, np.diff(offsets)) if is_list else tids
            idx, rank = hashes_to_sparse(hash64(flat, seed=seed), p)
            ku, rmax = _dedup_keys(vtids * m + idx, rank)
            key_chunks.append(ku)
            rank_chunks.append(rmax)
        if not key_chunks:
            return
        ku, rmax = _dedup_keys(
            np.concatenate(key_chunks), np.concatenate(rank_chunks)
        )
        gu, iu = ku // m, (ku % m).astype(np.int32)
        gstart = np.flatnonzero(np.concatenate(([True], gu[1:] != gu[:-1])))
        gend = np.concatenate((gstart[1:], [len(gu)]))
        out_names: list[str] = []
        out_blobs: list[bytes] = []
        for s, e in zip(gstart, gend):
            out_names.append(names[gu[s]])
            out_blobs.append(frame_sparse(p, seed, iu[s:e], rmax[s:e]))
            if len(out_names) == 4096:
                yield pa.RecordBatch.from_pydict(
                    {"group": out_names, "sketch": out_blobs}, schema=_GROUP_BLOB_ARROW
                )
                out_names, out_blobs = [], []
        if out_names:
            yield pa.RecordBatch.from_pydict(
                {"group": out_names, "sketch": out_blobs}, schema=_GROUP_BLOB_ARROW
            )

    # hash-partition the (task, group) sparse blobs so each group lands
    # wholly in one partition, then merge + estimate vectorized per
    # partition — no per-group Python function calls, no driver collect
    blobs = src.mapInArrow(fn, GROUP_BLOB_SCHEMA).repartition(F.col("group"))

    def merge_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tid_of: dict[str, int] = {}
        names: list[str] = []
        key_chunks: list[np.ndarray] = []
        rank_chunks: list[np.ndarray] = []
        for batch in batches:
            for name, blob in zip(
                batch.column("group").to_pylist(),
                batch.column("sketch").to_pylist(),
            ):
                bp, bseed, idx, ranks = parse_sparse_blob(bytes(blob))
                if bp != p or bseed != seed:
                    raise ValueError("mixed HLL parameters in grouped merge")
                tid = tid_of.get(name)
                if tid is None:
                    tid = tid_of[name] = len(names)
                    names.append(name)
                key_chunks.append(tid * m + idx)
                rank_chunks.append(ranks)
        if not key_chunks:
            return
        ku, rmax = _dedup_keys(
            np.concatenate(key_chunks),
            np.concatenate(rank_chunks).astype(np.uint8),
        )
        gu = ku // m
        gstart = np.flatnonzero(np.concatenate(([True], gu[1:] != gu[:-1])))
        nnz = np.diff(np.concatenate((gstart, [len(gu)])))
        pow_sums = np.add.reduceat(np.ldexp(1.0, -rmax.astype(np.int64)), gstart)
        est = np.rint(estimate_from_sparse(p, nnz, pow_sums)).astype(np.int64)
        out_names = [names[g] for g in gu[gstart]]
        yield pa.RecordBatch.from_pydict(
            {"group": out_names, "approx_distinct": est.tolist()},
            schema=pa.schema([("group", pa.string()), ("approx_distinct", pa.int64())]),
        )

    return blobs.mapInArrow(
        merge_fn, "group string, approx_distinct long"
    ).withColumnRenamed("group", group_col)


def hll_distinct(
    df: DataFrame,
    value_col: str,
    *,
    group_col: str | None = None,
    p: int = 14,
    seed: int = 42,
) -> DataFrame:
    """Approximate distinct count of value_col (scalar or array element),
    overall or per group.  Returns (group?, approx_distinct: long);
    ungrouped, an empty input is one row with 0 (|distinct({})| = 0)."""
    if group_col is not None:
        is_list = df.schema[value_col].dataType.typeName() == "array"
        return _hll_grouped(df, value_col, group_col, p, seed, is_list).orderBy(
            group_col
        )

    sk, _ = build_sketch_distributed(
        df.select(value_col),
        lambda: HyperLogLog(p=p, seed=seed),
        value_column_update(df, value_col),
    )
    # an Arrow table, not Python rows: no Python stage for a one-row answer
    return df.sparkSession.createDataFrame(
        pa.table({"approx_distinct": [int(round(sk.estimate()))]}),
        schema="approx_distinct: long",
    )


def kmv_sketch_per_group(
    df: DataFrame,
    value_col: str,
    *,
    group_col: str | None = None,
    k: int = 256,
) -> DataFrame:
    """Bottom-k distinct-hash (KMV) sketch per group: returns
    (group: string, hashes: array<long> sorted ascending, length <= k).

    Plan shape (design-for-100-TB):
      1. the hash is PURE CATALYST integer arithmetic (sketches/kmv.py
         hash_sql — same expression the DuckDB oracle runs), so the only
         Python stage is the partial reduction;
      2. one mapInArrow pass emits ONE row per (task, group) carrying that
         task's bottom-k as an array — shuffle volume is tasks rows * k
         values per group, independent of input size;
      3. the merge is a single Catalyst aggregate:
         slice(array_sort(array_distinct(flatten(collect_list(...)))), k)
         — collect_list partial-aggregates map-side, so this is ONE
         shuffle end to end.
    """
    from ..sketches.kmv import hash_sql

    is_list = df.schema[value_col].dataType.typeName() == "array"
    gexpr = (
        F.coalesce(F.col(group_col).cast("string"), F.lit("None"))
        if group_col is not None
        else F.lit("__all__")
    )
    v = F.explode(value_col) if is_list else F.col(value_col)
    # NULL values carry no distinct identity: drop them before hashing
    # (a null hash would otherwise reach the kernel as float64 NaN)
    src = (
        df.select(gexpr.alias("group"), v.alias("v"))
        .filter(F.col("v").isNotNull())
        .select("group", F.expr(hash_sql("v")).alias("h"))
    )

    def _bottom_k(keys: np.ndarray) -> np.ndarray:
        """Per-group bottom-k over sorted-unique packed (gid<<31 | h) keys:
        one sort dedups AND orders every group's hashes ascending."""
        ku = np.unique(keys)
        gu = ku >> np.int64(31)
        starts = np.flatnonzero(np.concatenate(([True], gu[1:] != gu[:-1])))
        ends = np.minimum(
            np.concatenate((starts[1:], [len(gu)])), starts + k
        )
        if len(starts) == 0:
            return ku
        return ku[np.concatenate([np.arange(s, e) for s, e in zip(starts, ends)])]

    def partial(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tid_of: dict[str, int] = {}
        names: list[str] = []
        key_chunks: list[np.ndarray] = []
        for batch in batches:
            if batch.num_rows == 0:
                continue
            h = batch.column("h").to_numpy(zero_copy_only=False).astype(np.int64)
            tids = _task_group_codes(tid_of, names, batch.column("group"))
            # dedup + truncate PER BATCH so task memory is O(groups*k +
            # batch), not O(task rows) — same discipline as _hll_grouped
            key_chunks.append(_bottom_k((tids << np.int64(31)) | h))
        if not key_chunks:
            return
        ku = _bottom_k(np.concatenate(key_chunks))
        gu, hu = ku >> np.int64(31), ku & np.int64((1 << 31) - 1)
        starts = np.flatnonzero(np.concatenate(([True], gu[1:] != gu[:-1])))
        ends = np.concatenate((starts[1:], [len(gu)]))
        hs_arr = pa.ListArray.from_arrays(
            pa.array(
                np.concatenate(([0], np.cumsum(ends - starts))), type=pa.int32()
            ),
            pa.array(hu, type=pa.int64()),
        )
        yield pa.RecordBatch.from_arrays(
            [pa.array([names[g] for g in gu[starts]], type=pa.string()), hs_arr],
            schema=pa.schema([("group", pa.string()), ("hs", pa.list_(pa.int64()))]),
        )

    cand = src.mapInArrow(partial, "group string, hs array<long>")
    merged = F.slice(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("hs")))), 1, k
    ).alias("hashes")
    if group_col is None:
        # global aggregate: one (possibly empty-array) row even on empty
        # input, so the ungrouped empty contract matches hll_distinct's
        # single-row answer instead of silently returning zero rows
        return cand.agg(merged).select(F.lit("__all__").alias("group"), "hashes")
    return cand.groupBy("group").agg(merged)


def kmv_distinct(
    df: DataFrame,
    value_col: str,
    *,
    group_col: str | None = None,
    k: int = 256,
) -> DataFrame:
    """Approximate distinct count per group via the KMV bottom-k sketch.

    Returns (group, n_kept, kth_hash, est_distinct) with the INTEGER-exact
    estimator est = (k-1)*P div kth_hash when full, else n_kept — every
    output column is exactly recomputable in ANSI SQL, so unlike HLL this
    approximate sketch carries a full value-hash oracle."""
    from ..sketches.kmv import P

    sk = kmv_sketch_per_group(df, value_col, group_col=group_col, k=k)
    out = sk.select(
        "group",
        F.size("hashes").alias("n_kept"),
        # try_element_at: the ungrouped empty-input row carries an empty
        # array — kth_hash is NULL there (est_distinct falls back to 0)
        F.try_element_at("hashes", F.lit(-1)).alias("kth_hash"),
    ).select(
        "group",
        "n_kept",
        "kth_hash",
        F.when(F.col("n_kept") < k, F.col("n_kept"))
        .otherwise(F.expr(f"{(k - 1) * P} div kth_hash"))
        .alias("est_distinct"),
    )
    if group_col is not None:
        return out.withColumnRenamed("group", group_col)
    return out.drop("group")


def topk_distinct_groups(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    k_sketch: int = 256,
    n: int = 10,
) -> DataFrame:
    """'Superspreader' selection: the ``n`` groups with the LARGEST
    approximate distinct count of ``value_col`` — the composition a
    pipeline uses to find users touching the most distinct URLs, sources
    with the widest vocabulary, keys fanning out hardest.

    Sketch composition, not a new sketch: per-group KMV bottom-k
    (bounded shuffle: tasks*k hashes per group, never row data) feeds the
    integer-exact estimator, then global ranking runs through
    ``orderBy().limit(n)`` — Spark plans TakeOrderedAndProject (local
    top-n + merge), so no SinglePartition exchange touches the per-group
    estimates either.  Ties break on group name ascending.  Because the
    KMV estimate is pure Catalyst arithmetic, the whole answer — ranking
    included — is exactly recomputable in ANSI SQL, unlike an HLL-ranked
    equivalent."""
    est = kmv_distinct(df, value_col, group_col=group_col, k=k_sketch)
    return est.orderBy(
        F.col("est_distinct").desc(), F.col(group_col).asc()
    ).limit(n)


def kmv_set_ops(
    sketches: DataFrame, *, k: int, same_block_col: str | None = None
) -> DataFrame:
    """Pairwise SET-OPERATION cardinality estimates between KMV sketches:
    (group_1, group_2, k_used, n_common, est_union, est_intersection).

    The union of two bottom-k sketches, re-truncated to its k smallest
    hashes, IS the KMV sketch of the union set — so the integer-exact
    estimator applies verbatim: est_union = (k-1)*P div kth when full,
    else the kept count.  est_intersection = n_common * est_union div
    k_used (Beyer et al. 2007: rho-hat * |U|-hat, with integer division
    so the estimate — like everything else here — is exactly
    recomputable in ANSI SQL).  Input is kmv_sketch_per_group output;
    block with `same_block_col` at scale (all-pairs without a blocking
    key is the anti-pattern the LSH operators exist to avoid).  Pure
    Catalyst end to end: arrays join, sort, and slice JVM-side."""
    from ..sketches.kmv import P

    cols = ["group", "hashes"] + ([same_block_col] if same_block_col else [])
    a = sketches.select(*cols).alias("a")
    b = sketches.select(*cols).alias("b")
    cond = F.col("a.group") < F.col("b.group")
    if same_block_col:
        cond = cond & (F.col(f"a.{same_block_col}") == F.col(f"b.{same_block_col}"))
    out_cols = (
        [F.col(f"a.{same_block_col}").alias(same_block_col)] if same_block_col else []
    )
    union_k = F.slice(
        F.array_sort(F.array_union(F.col("a.hashes"), F.col("b.hashes"))), 1, k
    )
    inter = F.array_intersect(F.col("a.hashes"), F.col("b.hashes"))
    step = a.join(b, cond).select(
        *out_cols,
        F.col("a.group").alias("group_1"),
        F.col("b.group").alias("group_2"),
        F.size(union_k).cast("long").alias("k_used"),
        F.size(F.array_intersect(union_k, inter)).cast("long").alias("n_common"),
        F.try_element_at(union_k, F.lit(-1)).alias("kth_u"),
    )
    return (
        step.withColumn(
            "est_union",
            F.when(F.col("k_used") < k, F.col("k_used")).otherwise(
                F.expr(f"{(k - 1) * P} div kth_u")
            ),
        )
        .withColumn(
            "est_intersection",
            F.when(F.col("k_used") == 0, F.lit(0).cast("long")).otherwise(
                F.expr("n_common * est_union div k_used")
            ),
        )
        .drop("kth_u")
    )


def kmv_jaccard_pairs(
    sketches: DataFrame, *, k: int, same_block_col: str | None = None
) -> DataFrame:
    """Pairwise Jaccard estimates between KMV sketches (Beyer et al. 2007):
    est_J = |bottom_k(A ∪ B) ∩ A_k ∩ B_k| / k_used, emitted as the integer
    pair (n_common, k_used).  Input is kmv_sketch_per_group output; pairs
    are restricted to the same `same_block_col` value when given (all-pairs
    comparison is the anti-pattern the LSH operators exist to avoid — at
    scale, always block first).  Pure Catalyst: the sketch arrays join and
    intersect JVM-side, no Python."""
    cols = ["group", "hashes"] + ([same_block_col] if same_block_col else [])
    a = sketches.select(*cols).alias("a")
    b = sketches.select(*cols).alias("b")
    cond = F.col("a.group") < F.col("b.group")
    if same_block_col:
        cond = cond & (F.col(f"a.{same_block_col}") == F.col(f"b.{same_block_col}"))
    union_k = F.slice(
        F.array_sort(F.array_union(F.col("a.hashes"), F.col("b.hashes"))), 1, k
    )
    inter = F.array_intersect(F.col("a.hashes"), F.col("b.hashes"))
    out_cols = (
        [F.col(f"a.{same_block_col}").alias(same_block_col)] if same_block_col else []
    )
    out_cols += [
        F.col("a.group").alias("group_1"),
        F.col("b.group").alias("group_2"),
        F.size(F.array_intersect(union_k, inter)).alias("n_common"),
        F.size(union_k).alias("k_used"),
    ]
    return a.join(b, cond).select(*out_cols)


def build_bloom(
    df: DataFrame,
    value_col: str,
    *,
    n_expected: int,
    fpp: float = 0.01,
    seed: int = 42,
) -> BloomFilter:
    """Distributed Bloom build over a scalar column; merge = OR."""
    sk, _ = build_sketch_distributed(
        df.select(value_col),
        lambda: BloomFilter(n_expected=n_expected, fpp=fpp, seed=seed),
        value_column_update(df, value_col),
    )
    return sk


def build_kmv_bloom(
    df: DataFrame,
    value_col: str,
    *,
    n_bits: int = 1 << 16,
    n_hashes: int = 3,
):
    """Distributed KmvBloom build over an integer column; merge = OR.

    The bit positions come from the SQL-portable quadratic-permutation
    hash (sketches/bloom.KmvBloom), so every bit — and therefore every
    membership answer including the false positives — is recomputable by
    a DuckDB oracle in pure integer SQL."""
    from ..sketches.bloom import KmvBloom

    sk, _ = build_sketch_distributed(
        df.select(value_col),
        lambda: KmvBloom(n_bits=n_bits, n_hashes=n_hashes),
        value_column_update(df, value_col),
    )
    return sk


def bloom_fp_audit(
    build_df: DataFrame,
    build_col: str,
    probe_df: DataFrame,
    probe_col: str,
    *,
    n_bits: int = 4096,
    n_hashes: int = 3,
) -> DataFrame:
    """Per-probe Bloom membership audit: build a KmvBloom over
    ``build_df[build_col]`` (distributed, OR-merge) and annotate every
    DISTINCT probe value with its membership answer.

    When the probe set is disjoint from the build set, every true row in
    the output is a FALSE POSITIVE — the empirically observed FP behavior
    of the filter, row by row.  Because the bit positions are the
    SQL-portable kmv-permutation hashes, an oracle recomputes the exact
    same bit array and the exact same per-probe answers: a value-hash-
    exact audit of a probabilistic data structure.

    Plan: one scan+reduce for the build (fixed-size blobs only), then a
    map-only broadcast annotate of the probes — no join, no shuffle of
    probe rows beyond the distinct."""
    bloom = build_kmv_bloom(build_df, build_col, n_bits=n_bits, n_hashes=n_hashes)
    spark = probe_df.sparkSession
    blob = spark.sparkContext.broadcast(bloom.to_bytes())
    probes = probe_df.select(F.col(probe_col)).distinct()
    out_schema = T.StructType(
        [probes.schema[probe_col], T.StructField("in_bloom", T.BooleanType(), False)]
    )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sk = from_bytes(blob.value)
        for batch in batches:
            vals = batch.column(probe_col).to_numpy(zero_copy_only=False)
            mask = sk.contains(vals.astype(np.int64))
            yield pa.RecordBatch.from_pydict(
                {probe_col: batch.column(probe_col), "in_bloom": pa.array(mask)}
            )

    return probes.mapInArrow(fn, out_schema)


def _sketch_filter(df: DataFrame, probe_col: str, sketch_bytes: bytes, mask_fn) -> DataFrame:
    """Shared pre-shuffle reducer shape: broadcast one fixed-size sketch
    blob, filter each Arrow batch by mask_fn(sketch, probe_values) — no
    join, no shuffle (plan pinned by tests/test_plan_shapes.py)."""
    spark = df.sparkSession
    blob = spark.sparkContext.broadcast(sketch_bytes)
    src_schema = df.schema

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sk = from_bytes(blob.value)
        for batch in batches:
            vals = batch.column(probe_col).to_numpy(zero_copy_only=False)
            mask = mask_fn(sk, vals)
            if mask.any():
                yield batch.filter(pa.array(mask))

    return df.mapInArrow(fn, src_schema)


def bloom_semijoin(
    df: DataFrame, probe_col: str, bloom: BloomFilter
) -> DataFrame:
    """Filter df to rows whose probe_col might be in the bloom (no false
    negatives; FP rate per filter params).  The classic pre-shuffle
    semi-join reducer: ships a fixed-size bitset instead of a join."""
    return _sketch_filter(df, probe_col, bloom.to_bytes(), lambda sk, v: sk.contains(v))


def build_cms_over_column(
    df: DataFrame,
    value_col: str,
    *,
    delta: float = 1e-4,
    epsilon: float = 5e-5,
    seed: int = 42,
    conservative: bool = False,
):
    """Distributed CMS over a scalar integer column (key_width=1): the
    frequency companion to build_bloom.  Same map-only build + associative
    merge as the motif pipeline."""
    from ..sketches.cms import CountMinSketch

    is_list = df.schema[value_col].dataType.typeName() == "array"

    def update(sk, batch, stats):
        if is_list:
            vals, _ = list_column_to_numpy(batch.column(value_col))
        else:
            vals = batch.column(value_col).to_numpy(zero_copy_only=False)
        sk.update_batch_grouped(vals.astype(np.int64))
        stats["n_rows"] += batch.num_rows
        stats["n_updates"] += len(vals)

    zero = lambda: CountMinSketch(  # noqa: E731
        delta=delta, epsilon=epsilon, key_width=1, seed=seed, conservative=conservative
    )
    sk, _ = build_sketch_distributed(df.select(value_col), zero, update)
    return sk


def cms_semijoin(
    df: DataFrame, probe_col: str, cms, *, min_count: int
) -> DataFrame:
    """Frequency-gated semi-join: keep rows whose probe_col's CMS estimate
    is >= min_count — the heavy-hitter filter a training pipeline uses to
    gate on corpus-wide frequency WITHOUT materializing a count table.

    Never drops a truly-frequent key (CMS never undercounts); rare keys may
    survive with probability <= delta (overcount).  Ships a fixed-size
    sketch to every task instead of shuffling a count table — the same
    pre-shuffle-reducer shape as bloom_semijoin.
    """
    return _sketch_filter(
        df,
        probe_col,
        cms.to_bytes(),
        lambda sk, v: sk.estimate_grouped(v.astype(np.int64)) >= min_count,
    )
