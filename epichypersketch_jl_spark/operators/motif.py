"""The motif pipeline — Spark-native equivalent of the reference's
`obtain_enriched_configurations` (src/count_gpu_extract.jl:203-250) and its
partitioned variant (src/partition.jl:253-345).

Plan shape:

    input DataFrame (doc_id, tokens[, positions, weights], n_tok, source)
      └─ filter(n_tok >= k)                       # Catalyst, pushed to scan
      └─ mapInArrow(build kernel)  ── no shuffle ─→ one CMS blob per task
      └─ treeReduce(+)                            # fixed-size blobs only
      └─ broadcast(merged CMS)
      └─ mapInArrow(extract kernel) ── no shuffle ─→ occurrence rows
           (m1..mk[, d12.., start, end], doc_id, contribution, count)

Because selection runs against the fully merged global sketch, the
reference's cross-partition under-count caveat (src/partition.jl:271-287,
"use min_count=1 and post-filter") does not apply here.

Output columns follow SURVEY.md §1.2's adjudication: the sequence-ID column
is named `doc_id` (the reference wavers between data_pt_index / data_index),
and the CMS estimate is emitted as `count` (the README promises it but no
reference extraction path emits it).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..config import HyperSketchConfig
from ..errors import InputError
from ..functions.motif_kernels import (
    build_batch,
    extract_batch,
    list_column_to_numpy,
    make_cms,
)
from ..sketches.cms import CountMinSketch
from .sketch_build import build_sketch_checkpointed, build_sketch_distributed


#: decoded-broadcast cache, per Python WORKER process (guide: heavyweight
#: init once — reused workers otherwise re-decompress + re-widen the same
#: parity-width table, ~25 ms per task at w=272k).  Keyed by a blake2b of
#: the blob bytes, so only byte-identical payloads ever share an entry;
#: entries are frozen (table not writeable), so a stray update raises
#: instead of corrupting every other task's estimates.  Bounded to
#: a handful of sketches; lives in an importable module so worker reuse
#: (spark.python.worker.reuse) keeps it across tasks and jobs.
_DECODED_CMS_CACHE: dict = {}
_DECODED_CMS_CACHE_MAX = 4


def _decode_cms_cached(blob: bytes) -> CountMinSketch:
    import hashlib

    from ..sketches.base import from_bytes as _fb

    key = hashlib.blake2b(blob, digest_size=16).digest()
    sk = _DECODED_CMS_CACHE.get(key)
    if sk is None:
        while len(_DECODED_CMS_CACHE) >= _DECODED_CMS_CACHE_MAX:
            _DECODED_CMS_CACHE.pop(next(iter(_DECODED_CMS_CACHE)))
        sk = _fb(blob)
        sk.table.setflags(write=False)
        _DECODED_CMS_CACHE[key] = sk
    return sk


def _is_conv(df: DataFrame, cfg: HyperSketchConfig) -> bool:
    """Mode inference: presence of the positions column (the Spark analog of
    the reference's NamedTuple-schema dispatch, src/record.jl:215-231)."""
    return cfg.positions_col in df.columns


def _prepared(df: DataFrame, cfg: HyperSketchConfig, conv: bool, with_weights: bool) -> DataFrame:
    cols = [cfg.doc_id_col, cfg.tokens_col]
    if conv:
        cols.append(cfg.positions_col)
    if with_weights and cfg.weights_col in df.columns:
        cols.append(cfg.weights_col)
    # column pruning + the empty/short-sequence filter (src/record.jl:248-252),
    # both pushed into the scan by Catalyst.
    return df.select(*cols).filter(F.size(F.col(cfg.tokens_col)) >= cfg.motif_size)


def _make_update_fn(cfg: HyperSketchConfig, conv: bool):
    def update(sk: CountMinSketch, batch: pa.RecordBatch, stats: dict) -> None:
        tok_flat, offsets = list_column_to_numpy(batch.column(cfg.tokens_col))
        pos_flat = None
        if conv:
            pos_flat, _ = list_column_to_numpy(batch.column(cfg.positions_col))
        before = sk.n_updates
        build_batch(sk, tok_flat, offsets, cfg, positions_flat=pos_flat)
        stats["n_rows"] += batch.num_rows
        stats["n_tokens"] += len(tok_flat)
        stats["n_updates"] += sk.n_updates - before

    return update


def build_motif_cms(
    df: DataFrame,
    cfg: HyperSketchConfig,
    *,
    checkpoint_dir: str | None = None,
    n_buckets: int = 64,
) -> tuple[CountMinSketch, list[dict]]:
    """Phase 1+2: partition-local CMS build + associative merge."""
    from ..plans.memory import planned_config

    conv = _is_conv(df, cfg)
    cfg = planned_config(df, cfg, conv)
    prepared = _prepared(df, cfg, conv, with_weights=False)
    zero = lambda: make_cms(cfg, conv)  # noqa: E731
    update = _make_update_fn(cfg, conv)
    if checkpoint_dir:
        return build_sketch_checkpointed(
            prepared,
            zero,
            update,
            checkpoint_dir=checkpoint_dir,
            n_buckets=n_buckets,
            doc_id_col=cfg.doc_id_col,
        )
    return build_sketch_distributed(prepared, zero, update)


def _extract_schema(df: DataFrame, cfg: HyperSketchConfig, conv: bool) -> StructType:
    k = cfg.motif_size
    tok_field = df.schema[cfg.tokens_col].dataType.elementType
    fields = [StructField(f"m{i+1}", tok_field, False) for i in range(k)]
    if conv:
        fields += [
            StructField(f"d{i+1}{i+2}", IntegerType(), False) for i in range(k - 1)
        ]
        fields += [
            StructField("start", IntegerType(), False),
            StructField("end", IntegerType(), False),
        ]
    fields += [
        df.schema[cfg.doc_id_col],
        StructField("contribution", DoubleType(), False),
        StructField("count", LongType(), False),
    ]
    return StructType(fields)


def enriched_configurations(
    df: DataFrame,
    cfg: HyperSketchConfig,
    *,
    checkpoint_dir: str | None = None,
    n_buckets: int = 64,
    cms: CountMinSketch | None = None,
    validate: bool = True,
) -> DataFrame:
    """Full pipeline; returns the occurrence DataFrame (lazy).

    A pre-built `cms` may be passed to skip the build phase (e.g. loaded from
    a checkpoint).
    """
    if validate and df.isEmpty():
        raise InputError("input DataFrame is empty")  # src/errors.jl:37-47
    from ..plans.memory import planned_config

    conv = _is_conv(df, cfg)
    cfg = planned_config(df, cfg, conv)
    if cms is None:
        cms, _metrics = build_motif_cms(
            df, cfg, checkpoint_dir=checkpoint_dir, n_buckets=n_buckets
        )

    spark = df.sparkSession
    blob_bc = spark.sparkContext.broadcast(cms.to_bytes())
    prepared = _prepared(df, cfg, conv, with_weights=True)
    schema = _extract_schema(df, cfg, conv)
    k = cfg.motif_size
    tok_col, pos_col, w_col, id_col = (
        cfg.tokens_col,
        cfg.positions_col,
        cfg.weights_col,
        cfg.doc_id_col,
    )
    has_weights = w_col in prepared.columns

    def extract_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        local_cms = _decode_cms_cached(blob_bc.value)
        for batch in batches:
            tok_flat, offsets = list_column_to_numpy(batch.column(tok_col))
            pos_flat = None
            w_flat = None
            if conv:
                pos_flat, _ = list_column_to_numpy(batch.column(pos_col))
            if has_weights:
                w_flat, _ = list_column_to_numpy(batch.column(w_col))
                w_flat = w_flat.astype(np.float64)
            out = extract_batch(
                local_cms, tok_flat, offsets, cfg, positions_flat=pos_flat, weights_flat=w_flat
            )
            if not out.row_idx:
                continue
            motifs = np.concatenate(out.motifs)  # (m, k)
            rows = np.concatenate(out.row_idx)
            cols: dict[str, pa.Array] = {}
            tok_np_dtype = tok_flat.dtype
            for i in range(k):
                cols[f"m{i+1}"] = pa.array(motifs[:, i].astype(tok_np_dtype))
            if conv:
                gaps = np.concatenate(out.gaps)
                for i in range(k - 1):
                    cols[f"d{i+1}{i+2}"] = pa.array(gaps[:, i].astype(np.int32))
                cols["start"] = pa.array(np.concatenate(out.starts).astype(np.int32))
                cols["end"] = pa.array(np.concatenate(out.ends).astype(np.int32))
            cols[id_col] = pc.take(batch.column(id_col), pa.array(rows))
            cols["contribution"] = pa.array(np.concatenate(out.contribs).astype(np.float64))
            cols["count"] = pa.array(np.concatenate(out.counts).astype(np.int64))
            yield pa.RecordBatch.from_pydict(cols)

    return prepared.mapInArrow(extract_fn, schema)


#: per-task byte cap for piggybacked fold partials (keys + occurrence
#: counts) on the fused single-scan summary path; a task whose folded key
#: set serializes past this reports no partial and the query falls back to
#: the classic second aggregation pass.  Bounds driver fan-in bytes at
#:   min(#tasks, collect_threshold) * cap.
FUSED_PARTIAL_MAX_BYTES = 2 << 20


def _fused_summary_collect(
    prepared: DataFrame, cfg: HyperSketchConfig
) -> tuple[CountMinSketch, list | None]:
    """One scan that builds the per-task CMS blobs AND piggybacks each
    task's folded (unique key, occurrence count) partials when the
    multiset-counting path is active and the partial is small.

    Returns (merged sketch, partial rows | None); None when any task
    could not supply partials (enumeration fallback engaged, or the
    partial exceeded FUSED_PARTIAL_MAX_BYTES) — the caller then runs the
    classic second pass against the merged sketch, so the fallback costs
    exactly what the unfused plan costs.
    """
    import struct as _struct

    from ..functions.motif_kernels import multiset_fold, _value_bound, _fold_keys
    from .sketch_build import _BLOB_ARROW_SCHEMA

    k = cfg.motif_size
    tok_col = cfg.tokens_col
    fused_arrow_schema = pa.schema(
        list(_BLOB_ARROW_SCHEMA) + [("partial", pa.binary())]
    )
    from pyspark.sql.types import BinaryType

    fused_schema = StructType(
        [
            StructField("part_id", IntegerType(), False),
            StructField("sketch", BinaryType(), False),
            StructField("n_rows", LongType(), False),
            StructField("n_tokens", LongType(), False),
            StructField("n_updates", LongType(), False),
            StructField("wall_ms", DoubleType(), False),
            StructField("partial", BinaryType(), True),
        ]
    )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import time as _time

        from pyspark import TaskContext

        t0 = _time.monotonic()
        sk = make_cms(cfg, False)
        n_rows = n_tokens = 0
        acc_k: list[np.ndarray] = []
        acc_o: list[np.ndarray] = []
        fold_ok = True
        for batch in batches:
            tok_flat, offsets = list_column_to_numpy(batch.column(tok_col))
            vb = _value_bound(tok_flat, None)
            folded = multiset_fold(tok_flat, offsets, k, vb)
            if folded is None:
                # enumeration fallback for this batch: still build the
                # sketch (identical table), but no cheap partials
                build_batch(sk, tok_flat, offsets, cfg)
                fold_ok = False
            else:
                fk, fc = folded
                sk.update_batch(fk, fc, vmax=vb)
                if fold_ok:
                    acc_k.append(fk)
                    acc_o.append(fc)
            n_rows += batch.num_rows
            n_tokens += len(tok_flat)
        partial = None
        if fold_ok and acc_k:
            keys = np.concatenate(acc_k)
            occ = np.concatenate(acc_o)
            ukeys, uocc, _ = _fold_keys(keys, k, occ_weights=occ)
            blob = _struct.pack("<qi", len(uocc), k) + np.ascontiguousarray(
                ukeys, dtype=np.int64
            ).tobytes() + uocc.tobytes()
            if len(blob) <= FUSED_PARTIAL_MAX_BYTES:
                partial = blob
        elif fold_ok:
            partial = _struct.pack("<qi", 0, k)
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        yield pa.RecordBatch.from_pydict(
            {
                "part_id": [pid],
                "sketch": [sk.to_bytes()],
                "n_rows": [n_rows],
                "n_tokens": [n_tokens],
                "n_updates": [sk.n_updates],
                "wall_ms": [(_time.monotonic() - t0) * 1000.0],
                "partial": [partial],
            },
            schema=fused_arrow_schema,
        )

    rows = prepared.mapInArrow(fn, fused_schema).collect()
    from ..sketches.base import from_bytes as _fb

    if not rows:
        return make_cms(cfg, False), []
    sk = _fb(bytes(rows[0].sketch))
    sk.merge_blobs_inplace(bytes(r.sketch) for r in rows[1:])
    partials = [r.partial for r in rows]
    if any(p is None for p in partials):
        return sk, None
    return sk, [bytes(p) for p in partials]


def _fused_summary_result(
    df: DataFrame,
    cfg: HyperSketchConfig,
    cms: CountMinSketch,
    partials: list,
) -> DataFrame:
    """Driver-side finish of the fused plan: fold the per-task partials
    (a few thousand keys), attach the merged-sketch estimates, filter by
    min_count, and return the same schema/order as the classic plan."""
    import struct as _struct

    from ..functions.motif_kernels import _fold_keys

    k = cfg.motif_size
    hsz = _struct.calcsize("<qi")
    kparts, oparts = [], []
    for blob in partials:
        n, kk = _struct.unpack("<qi", blob[:hsz])
        if kk != k:
            raise ValueError(f"partial key width {kk} != {k}")
        if n:
            kparts.append(
                np.frombuffer(blob, dtype=np.int64, count=n * k, offset=hsz).reshape(n, k)
            )
            oparts.append(
                np.frombuffer(blob, dtype=np.int64, count=n, offset=hsz + n * k * 8)
            )
    spark = df.sparkSession
    tok_field = df.schema[cfg.tokens_col].dataType.elementType
    fields = [StructField(f"m{i+1}", tok_field, False) for i in range(k)]
    fields += [
        StructField("count", LongType(), False),
        StructField("n_occurrences", LongType(), False),
        StructField("total_contribution", DoubleType(), False),
    ]
    schema = StructType(fields)
    if kparts:
        ukeys, uocc, _ = _fold_keys(
            np.concatenate(kparts), k, occ_weights=np.concatenate(oparts)
        )
        est = cms.estimate(ukeys)
        m = est >= cfg.min_count
        ukeys, uocc, est = ukeys[m], uocc[m], est[m]
    else:
        ukeys = np.empty((0, k), np.int64)
        uocc = est = np.empty(0, np.int64)
    import pandas as pd

    tok_np = {"integer": np.int32, "long": np.int64, "short": np.int16}.get(
        tok_field.typeName(), np.int64
    )
    cols = {f"m{i+1}": ukeys[:, i].astype(tok_np) for i in range(k)}
    cols["count"] = est.astype(np.int64)
    cols["n_occurrences"] = uocc.astype(np.int64)
    cols["total_contribution"] = uocc.astype(np.float64) * float(k)
    # pandas + Arrow conversion: columnar, no per-row pickling
    out = spark.createDataFrame(pd.DataFrame(cols), schema=schema)
    keys = [f"m{i+1}" for i in range(k)]
    return out.orderBy(F.desc("count"), *keys)


def motif_counts(
    df: DataFrame,
    cfg: HyperSketchConfig,
    *,
    cms: CountMinSketch | None = None,
    validate: bool = False,
    fused: bool = True,
) -> DataFrame:
    """Aggregated extraction with map-side combine.

    Same selection semantics as enriched_configurations + motif_summary, but
    qualifying occurrences are reduced to (key -> n_occurrences,
    total_contribution) inside each task before anything crosses the Arrow
    boundary, so the shuffle carries at most (#distinct qualifying keys ×
    #partitions) rows instead of every occurrence.  This is the partial-
    aggregation pattern Catalyst applies to hash aggregates, pushed into the
    sketch kernel.
    """
    if validate and df.isEmpty():
        raise InputError("input DataFrame is empty")
    from ..plans.memory import planned_config

    conv = _is_conv(df, cfg)
    cfg = planned_config(df, cfg, conv)
    if (
        fused
        and cms is None
        and not conv
        and not cfg.conservative
        and cfg.motif_size <= 4  # multiset_fold's reach; k>4 never folds
        and cfg.weights_col not in df.columns
    ):
        # fused single-scan plan: the build pass piggybacks each task's
        # folded (key, occurrence) partials when the multiset-counting
        # path is active, so the second data pass disappears — the driver
        # finishes the aggregation over a few thousand folded rows.
        # Results are identical to the two-pass plan (pytest-pinned);
        # tasks that fall back to enumeration (large alphabet) or exceed
        # the partial byte cap degrade gracefully to the classic second
        # pass against the already-merged sketch.
        prepared = _prepared(df, cfg, conv=False, with_weights=False)
        # the fused path collects one (blob, partial) row per task; beyond
        # the classic collect threshold the blobs go through treeReduce
        # instead, so keep the fused plan to the same fan-in regime.  The
        # partition probe (.rdd conversion, ~0.1 s) is memoized per plan —
        # the same session-level memo _seq uses.
        spark = df.sparkSession
        memo = spark.__dict__.setdefault("_ehs_nparts_memo", {})
        pkey = ("prepared", prepared.semanticHash())
        n_parts = memo.get(pkey)
        if n_parts is None:
            n_parts = memo[pkey] = prepared.rdd.getNumPartitions()
        if n_parts <= 256:
            cms, partials = _fused_summary_collect(prepared, cfg)
            if partials is not None:
                return _fused_summary_result(df, cfg, cms, partials)
    if cms is None:
        cms, _ = build_motif_cms(df, cfg)
    spark = df.sparkSession
    blob_bc = spark.sparkContext.broadcast(cms.to_bytes())
    prepared = _prepared(df, cfg, conv, with_weights=True)
    k = cfg.motif_size
    tok_field = df.schema[cfg.tokens_col].dataType.elementType
    fields = [StructField(f"m{i+1}", tok_field, False) for i in range(k)]
    if conv:
        fields += [StructField(f"d{i+1}{i+2}", IntegerType(), False) for i in range(k - 1)]
    fields += [
        StructField("count", LongType(), False),
        StructField("n_occurrences", LongType(), False),
        StructField("total_contribution", DoubleType(), False),
    ]
    schema = StructType(fields)
    tok_col, pos_col, w_col = cfg.tokens_col, cfg.positions_col, cfg.weights_col
    has_weights = w_col in prepared.columns
    key_cols = k + (k - 1 if conv else 0)

    def agg_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ..functions.motif_kernels import aggregate_batch

        local_cms = _decode_cms_cached(blob_bc.value)
        acc = []  # (keys, occ, contrib, est) per batch
        tok_np_dtype = np.int32
        for batch in batches:
            tok_flat, offsets = list_column_to_numpy(batch.column(tok_col))
            tok_np_dtype = tok_flat.dtype
            pos_flat = None
            w_flat = None
            if conv:
                pos_flat, _ = list_column_to_numpy(batch.column(pos_col))
            if has_weights:
                w_flat, _ = list_column_to_numpy(batch.column(w_col))
                w_flat = w_flat.astype(np.float64)
            res = aggregate_batch(
                local_cms, tok_flat, offsets, cfg, positions_flat=pos_flat, weights_flat=w_flat
            )
            if len(res[0]):
                acc.append(res)
        if not acc:
            return
        keys = np.concatenate([a[0] for a in acc])
        occ = np.concatenate([a[1] for a in acc])
        contrib = np.concatenate([a[2] for a in acc])
        est = np.concatenate([a[3] for a in acc])
        packed = type(local_cms)._pack_keys(keys)
        if packed is not None:
            _, first_idx, inv = np.unique(packed, return_index=True, return_inverse=True)
        else:
            _, first_idx, inv = np.unique(keys, axis=0, return_index=True, return_inverse=True)
        uk = keys[first_idx]
        occ = np.bincount(inv, weights=occ).astype(np.int64)
        contrib = np.bincount(inv, weights=contrib)
        cnt = est[first_idx]
        cols: dict[str, pa.Array] = {}
        if conv:
            for i in range(k):
                cols[f"m{i+1}"] = pa.array(uk[:, 2 * i].astype(tok_np_dtype))
            for i in range(k - 1):
                cols[f"d{i+1}{i+2}"] = pa.array(uk[:, 2 * i + 1].astype(np.int32))
        else:
            for i in range(k):
                cols[f"m{i+1}"] = pa.array(uk[:, i].astype(tok_np_dtype))
        cols["count"] = pa.array(cnt.astype(np.int64))
        cols["n_occurrences"] = pa.array(occ)
        cols["total_contribution"] = pa.array(contrib)
        yield pa.RecordBatch.from_pydict(cols)

    partial = prepared.mapInArrow(agg_fn, schema)
    keys = [f"m{i+1}" for i in range(k)] + (
        [f"d{i+1}{i+2}" for i in range(k - 1)] if conv else []
    )
    return (
        partial.groupBy(*keys)
        .agg(
            F.first("count").alias("count"),
            F.sum("n_occurrences").alias("n_occurrences"),
            F.sum("total_contribution").alias("total_contribution"),
        )
        .orderBy(F.desc("count"), *keys)
    )


def motif_summary(occurrences: DataFrame, k: int, top_n: int | None = None) -> DataFrame:
    """The README's user-side post-aggregation (README.md:155-192): group
    occurrences by motif key, keep the CMS estimate, sum contributions,
    count docs, order by count desc.  Plain Catalyst."""
    keys = [f"m{i+1}" for i in range(k)]
    out = (
        occurrences.groupBy(*keys)
        .agg(
            F.first("count").alias("count"),
            F.count("*").alias("n_occurrences"),
            F.sum("contribution").alias("total_contribution"),
        )
        .orderBy(F.desc("count"), *keys)
    )
    return out.limit(top_n) if top_n else out


def motif_pmi(df: DataFrame, cfg: HyperSketchConfig) -> DataFrame:
    """Pointwise mutual information for qualifying k=2 motifs — the
    canonical enrichment score on top of the sketch counts: how much more
    often a pair co-occurs than its tokens' frequencies predict.

        pmi(a,b) = ln(c_ab / T2) - ln(c_a / T) - ln(c_b / T)

    with c_ab the pair's co-occurrence count (motif_counts; CMS-estimated,
    exact in the parity regime), c_a corpus occurrence counts, T total
    tokens, and T2 = sum_d C(n_d, 2) total pair slots.  Positive pmi =
    co-occur MORE than chance — the enrichment the reference's threshold
    selects on, made quantitative.

    Plan: the unigram table is tiny (vocab-sized) and broadcast-joined
    twice; T/T2 reduce to two numbers folded in as literals — no extra
    shuffle beyond motif_counts' own.  Returns (m1, m2, c_ab, c_1, c_2,
    pmi) with pmi a double; the expression tree is SQL-reproducible
    verbatim (see the driver oracle)."""
    if cfg.motif_size != 2:
        raise InputError("motif_pmi is defined for motif_size=2")
    counts = motif_counts(df, cfg).select(
        "m1", "m2", F.col("count").alias("c_ab")
    )
    n_tok = F.size(F.col(cfg.tokens_col)).cast("bigint")
    uni = (
        df.select(F.explode(cfg.tokens_col).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    # bigint from the start: n*(n-1) overflows 32-bit int at n >= 46342
    # (a book-length doc), which under ANSI mode aborts the whole job
    tot = df.agg(
        F.sum(n_tok).alias("T"),
        F.sum(F.expr(f"CAST(size({cfg.tokens_col}) AS BIGINT) * (size({cfg.tokens_col}) - 1) div 2")).alias("T2"),
    ).first()
    if not tot.T or not tot.T2:
        raise InputError("motif_pmi over an empty corpus (no token pairs)")
    t_tokens, t_pairs = float(tot.T), float(tot.T2)
    j = (
        counts.join(
            F.broadcast(uni.select(F.col("t").alias("m1"), F.col("c").alias("c_1"))),
            "m1",
        )
        .join(
            F.broadcast(uni.select(F.col("t").alias("m2"), F.col("c").alias("c_2"))),
            "m2",
        )
    )
    pmi = (
        F.log(F.col("c_ab") / F.lit(t_pairs))
        - F.log(F.col("c_1") / F.lit(t_tokens))
        - F.log(F.col("c_2") / F.lit(t_tokens))
    )
    return j.select("m1", "m2", "c_ab", "c_1", "c_2", pmi.alias("pmi"))
