"""Distributed quantiles via KLL and t-digest — same build/merge plumbing
as the other sketches (BASELINE.json north_star family)."""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sketches.base import from_bytes
from ..sketches.kll import KLL
from ..sketches.tdigest import TDigest
from .sketch_build import (
    GROUP_BLOB_SCHEMA,
    _GROUP_BLOB_ARROW,
    build_sketch_distributed,
    value_column_update,
)


def kll_quantiles(
    df: DataFrame, value_col: str, quantiles: list[float], *, k: int = 200, seed: int = 42
) -> dict[float, float]:
    sk, _ = build_sketch_distributed(
        df.select(value_col), lambda: KLL(k=k, seed=seed), value_column_update(df, value_col)
    )
    vals = sk.quantile(np.array(quantiles))
    return {q: float(v) for q, v in zip(quantiles, vals)}



def _grouped_src(df: DataFrame, value_col: str, group_col: str) -> DataFrame:
    """(group: string, v: double) with NULL values dropped and NULL group
    keys coalesced to their own "None" group — the shared normalization of
    every grouped quantile-sketch path."""
    is_list = df.schema[value_col].dataType.typeName() == "array"
    v = F.explode(value_col) if is_list else F.col(value_col)
    return (
        df.select(
            F.coalesce(F.col(group_col).cast("string"), F.lit("None")).alias("group"),
            v.alias("v"),
        )
        .filter(F.col("v").isNotNull())
        .select("group", F.col("v").cast("double").alias("v"))
    )


def _grouped_build_fn(zero_fn, map_groups_budget: int):
    """mapInArrow kernel: one sketch per (task, group), vectorized
    per-slice updates, partial-blob flush when the live-group dictionary
    exceeds the budget (associative merge makes the flush free)."""

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from .cardinality import _task_group_codes

        tid_of: dict[str, int] = {}
        names: list[str] = []
        sketches: dict = {}

        def _emit() -> pa.RecordBatch:
            rb = pa.RecordBatch.from_pydict(
                {
                    "group": [names[t] for t in sketches],
                    "sketch": [sk.to_bytes() for sk in sketches.values()],
                },
                schema=_GROUP_BLOB_ARROW,
            )
            tid_of.clear()
            names.clear()
            sketches.clear()
            return rb

        for batch in batches:
            if batch.num_rows == 0:
                continue
            vals = batch.column("v").to_numpy(zero_copy_only=False)
            tids = _task_group_codes(tid_of, names, batch.column("group"))
            order = np.argsort(tids, kind="stable")
            st, sv = tids[order], vals[order]
            starts = np.flatnonzero(np.concatenate(([True], st[1:] != st[:-1])))
            ends = np.concatenate((starts[1:], [len(st)]))
            for s, e in zip(starts, ends):
                tid = int(st[s])
                sk = sketches.get(tid)
                if sk is None:
                    sk = sketches[tid] = zero_fn()
                sk.update_batch(sv[s:e])
            if len(sketches) > map_groups_budget:
                yield _emit()
        if sketches:
            yield _emit()

    return build


def _merge_groups(
    batches: Iterator[pa.RecordBatch], compat_fn, op_name: str
) -> dict:
    """Per-partition merge of GROUP_BLOB_SCHEMA rows: group name -> merged
    sketch.  The grouped exchange puts every blob of a group in one
    partition, so each group's sketch here is final."""
    merged: dict = {}
    for batch in batches:
        for name, blob in zip(
            batch.column("group").to_pylist(),
            batch.column("sketch").to_pylist(),
        ):
            sk = from_bytes(bytes(blob))
            if not compat_fn(sk):
                raise ValueError(f"mixed sketch parameters in {op_name} merge")
            prev = merged.get(name)
            merged[name] = sk if prev is None else prev.merge(sk)
    return merged


def _quantiles_grouped(
    df: DataFrame,
    value_col: str,
    group_col: str,
    quantiles: list[float],
    *,
    zero_fn,
    compat_fn,
    op_name: str,
    map_groups_budget: int = 4096,
) -> DataFrame:
    """Shared grouped-quantile plumbing for any mergeable quantile sketch
    (KLL, t-digest): (group: string, q: double, est: double), one row per
    (group, quantile).

    Plan shape (same distributed-merge discipline as the grouped HLL,
    operators/cardinality._hll_grouped):
      * map side: one sketch (``zero_fn()``) per (task, group); per Arrow
        batch the values argsort by group code once and each group's
        slice feeds one vectorized update_batch call — Python cost is
        per (batch, group), never per row;
      * the (task, group) blobs hash-partition by group (fixed-size
        payloads, never row data) and a second mapInArrow pass merges +
        queries each group entirely in its partition — no driver collect.

    Sketch compaction is partition-count-dependent, so per-group
    estimates carry the family's published rank-error bound rather than
    partition-invariant bytes — driver queries pin them through
    two-sided tie-aware rank checks.

    Map-side memory is bounded: a task holds at most ``map_groups_budget``
    live per-group sketch objects; when a batch would exceed that, the
    accumulated blobs are flushed downstream and the dictionary cleared
    (merge is associative, so multiple blobs per (task, group) merge to
    the same sketch family — only shuffle volume grows, by one blob per
    flushed group).  ``compat_fn`` guards the merge against mixed
    parameters."""
    from ..errors import InputError

    if not quantiles:
        raise InputError(f"{op_name} needs at least one quantile")
    if map_groups_budget < 1:
        raise InputError("map_groups_budget must be >= 1")
    qs = sorted(float(q) for q in quantiles)
    src = _grouped_src(df, value_col, group_col)
    blobs = src.mapInArrow(
        _grouped_build_fn(zero_fn, map_groups_budget), GROUP_BLOB_SCHEMA
    ).repartition(F.col("group"))
    qarr = np.array(qs)

    def merge(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        merged = _merge_groups(batches, compat_fn, op_name)
        if not merged:
            return
        out_g: list[str] = []
        out_q: list[float] = []
        out_e: list[float] = []
        for name, sk in merged.items():
            ests = sk.quantile(qarr)
            out_g.extend([name] * len(qs))
            out_q.extend(qs)
            out_e.extend(float(x) for x in ests)
        yield pa.RecordBatch.from_pydict(
            {"group": out_g, "q": out_q, "est": out_e},
            schema=pa.schema(
                [("group", pa.string()), ("q", pa.float64()), ("est", pa.float64())]
            ),
        )

    return blobs.mapInArrow(merge, "group string, q double, est double").withColumnRenamed(
        "group", group_col
    )


def tdigest_quantiles(
    df: DataFrame, value_col: str, quantiles: list[float], *, compression: float = 200.0
) -> dict[float, float]:
    sk, _ = build_sketch_distributed(
        df.select(value_col),
        lambda: TDigest(compression=compression),
        value_column_update(df, value_col),
    )
    vals = sk.quantile(np.array(quantiles))
    return {q: float(v) for q, v in zip(quantiles, vals)}


def kll_quantiles_grouped(
    df: DataFrame,
    value_col: str,
    group_col: str,
    quantiles: list[float],
    *,
    k: int = 200,
    seed: int = 42,
    map_groups_budget: int = 4096,
) -> DataFrame:
    """Per-group KLL quantile estimates (see _quantiles_grouped for the
    plan shape and memory discipline).  KLL compaction is seeded but
    partition-count-dependent, so estimates carry the published
    rank-error bound rather than partition-invariant bytes."""
    return _quantiles_grouped(
        df,
        value_col,
        group_col,
        quantiles,
        zero_fn=lambda: KLL(k=k, seed=seed),
        compat_fn=lambda sk: isinstance(sk, KLL) and sk.k == k,
        op_name="kll_quantiles_grouped",
        map_groups_budget=map_groups_budget,
    )


def tdigest_quantiles_grouped(
    df: DataFrame,
    value_col: str,
    group_col: str,
    quantiles: list[float],
    *,
    compression: float = 200.0,
    map_groups_budget: int = 4096,
) -> DataFrame:
    """Per-group t-digest quantile estimates — the tail-accurate twin of
    kll_quantiles_grouped (t-digest concentrates centroid resolution at
    the extremes, the right tool for p99/p999 latency-style columns).
    Same plan shape and map-side flush budget; merge is centroid
    recompression, associative up to the digest's accuracy contract."""
    return _quantiles_grouped(
        df,
        value_col,
        group_col,
        quantiles,
        zero_fn=lambda: TDigest(compression=compression),
        compat_fn=lambda sk: isinstance(sk, TDigest)
        and sk.compression == compression,
        op_name="tdigest_quantiles_grouped",
        map_groups_budget=map_groups_budget,
    )


def percentile_rank(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    k: int = 200,
    seed: int = 42,
    map_groups_budget: int = 4096,
    out_col: str = "pct_rank",
) -> DataFrame:
    """Annotate every row with its approximate WITHIN-GROUP percentile
    (estimated #values <= v / n_group) — the primitive behind
    distribution-aware filters ("drop the bottom decile of quality per
    source") that would otherwise need a per-group sort of all rows.

    Plan: grouped KLL build (same kernel/budget as kll_quantiles_grouped),
    per-group merge to ONE fixed-size blob per group, then the blob table
    joins back onto the rows by group key and a map-only pass annotates —
    no window, no per-group sort, and NO driver collect (VERDICT r4 item
    4: the old path collected every group blob to the driver).  The join
    carries no hint: AQE turns it into an executor-side broadcast join
    while the blob table is small and degrades to a shuffle join at
    extreme group cardinality, so driver memory stays flat either way.
    Each task decodes a given group's blob once (bounded cache).

    Rows with NULL values get a NULL percentile; estimates carry the KLL
    rank-error bound (|est - exact| <= ~0.03 of n_group at k=200)."""
    src = _grouped_src(df, value_col, group_col)
    blobs = src.mapInArrow(
        _grouped_build_fn(lambda: KLL(k=k, seed=seed), map_groups_budget),
        GROUP_BLOB_SCHEMA,
    ).repartition(F.col("group"))

    def merge_one(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        merged = _merge_groups(
            batches, lambda sk: isinstance(sk, KLL) and sk.k == k, "percentile_rank"
        )
        if merged:
            yield pa.RecordBatch.from_pydict(
                {
                    "group": list(merged),
                    "sketch": [sk.to_bytes() for sk in merged.values()],
                },
                schema=_GROUP_BLOB_ARROW,
            )

    merged = blobs.mapInArrow(merge_one, GROUP_BLOB_SCHEMA)

    gkey, skey = "__ehs_pr_group", "__ehs_pr_sketch"
    joined = df.withColumn(
        gkey, F.coalesce(F.col(group_col).cast("string"), F.lit("None"))
    ).join(
        merged.select(F.col("group").alias(gkey), F.col("sketch").alias(skey)),
        gkey,
        "left",
    )

    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.DoubleType(), True)]
    )
    out_cols = [f.name for f in df.schema.fields]

    def annotate(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from .cardinality import _task_group_codes

        cache: dict[str, KLL] = {}
        tid_of: dict[str, int] = {}
        names: list[str] = []
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            if len(cache) >= 65536:  # bound the per-task decode cache; group
                cache.clear()  # codes are only used within a batch, so a
                tid_of.clear()  # boundary reset is safe
                names.clear()
            vals = (
                batch.column(value_col)
                .cast(pa.float64())
                .to_numpy(zero_copy_only=False)
            )
            gcol = batch.column(gkey)
            blob_col = batch.column(skey)
            tids = _task_group_codes(tid_of, names, gcol)
            pct = np.full(n, np.nan)
            finite = ~np.isnan(vals)
            order = np.argsort(tids, kind="stable")
            st = tids[order]
            starts = np.flatnonzero(np.concatenate(([True], st[1:] != st[:-1])))
            ends = np.concatenate((starts[1:], [len(st)]))
            for a, b in zip(starts, ends):
                name = names[int(st[a])]
                sk = cache.get(name)
                if sk is None:
                    blob = blob_col[int(order[a])].as_py()
                    if blob is None:
                        continue  # group had no non-null values
                    sk = cache[name] = from_bytes(blob)
                idx = order[a:b]
                idx = idx[finite[idx]]
                if idx.size:
                    pct[idx] = sk.rank(vals[idx]) / max(sk.n, 1)
            out = {name: batch.column(name) for name in out_cols}
            out[out_col] = pa.array(pct, type=pa.float64(), from_pandas=True)
            yield pa.RecordBatch.from_pydict(out)

    return joined.mapInArrow(annotate, out_schema)
