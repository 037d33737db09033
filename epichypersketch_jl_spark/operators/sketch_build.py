"""Distributed sketch build: partition-local numpy build inside mapInArrow,
then an associative merge of serialized blobs.

This is the Spark-native replacement for the reference's implicit merge
(all batches/partitions mutate ONE shared sketch object sequentially,
src/count_gpu_extract.jl:41-44, src/partition.jl:148).  Making the merge an
explicit `+` over seed-aligned sketches is what buys:

  * no shuffle of raw data — each task reads its split once, ships back a
    fixed-size blob (MBs) regardless of input size;
  * partition/order invariance (merge is associative + commutative);
  * the two-phase global-sketch-then-select design that removes the
    reference's cross-partition under-count caveat (src/partition.jl:271-287);
  * resumability: with a checkpoint dir, per-bucket blobs are persisted and
    completed buckets are skipped on re-run (north_rule requirement).

`build_sketch_distributed` is the one path every sketch family's global
build takes (motif CMS, HLL, Bloom, KmvBloom, CMS over a column,
CountSketch, KLL, t-digest, Frequent Directions; the fused motif scan
shares its private `_reduce`).  Every task emits one row of
`BLOB_SCHEMA` — its sketch, even the zero sketch of a task that read no
rows — and the rows reduce in ONE Spark job: collected and merged on the
driver up to `_COLLECT_MAX_TASKS` tasks, `treeReduce`d (depth 2, fan-in
~sqrt(tasks)) beyond it, so the driver receives one blob at any task
count.  Every merge goes through `MergeableSketch.merge_blobs`.  The
grouped builds (operators/cardinality, operators/quantiles) merge per
group executor-side instead; the checkpointed path shuffles only
(bucket, row) once and writes blobs, so a resume re-reads no completed
input.
"""

from __future__ import annotations

import time
from typing import Callable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..functions.motif_kernels import list_column_to_numpy
from ..sketches.base import MergeableSketch, from_bytes

# update_fn(sketch, record_batch, stats_dict) -> None; mutates sketch in place.
UpdateFn = Callable[[MergeableSketch, pa.RecordBatch, dict], None]
# task_fn(batches) -> (sketch, stats): one task's whole build.  stats may
# carry n_rows / n_tokens / n_updates and a `partial` payload (bytes|None).
TaskFn = Callable[[Iterator[pa.RecordBatch]], tuple[MergeableSketch, dict]]

#: above this many tasks the blobs treeReduce instead of being collected
_COLLECT_MAX_TASKS = 256

_STAT_COLS = ("n_rows", "n_tokens", "n_updates")

_BLOB_ARROW_SCHEMA = pa.schema(
    [
        ("part_id", pa.int32()),
        ("sketch", pa.binary()),
        ("n_rows", pa.int64()),
        ("n_tokens", pa.int64()),
        ("n_updates", pa.int64()),
        ("wall_ms", pa.float64()),
        ("partial", pa.binary()),
    ]
)

BLOB_SCHEMA = StructType(
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

#: per-(task, group) blob rows of the grouped builds
GROUP_BLOB_SCHEMA = "group string, sketch binary"
_GROUP_BLOB_ARROW = pa.schema([("group", pa.string()), ("sketch", pa.binary())])


def value_column_update(df: DataFrame, value_col: str) -> UpdateFn:
    """update_fn feeding one value column of `df` to ``sk.update_batch``:
    a scalar column as is, an array column as its flattened elements."""
    is_list = df.schema[value_col].dataType.typeName() == "array"

    def update(sk: MergeableSketch, batch: pa.RecordBatch, stats: dict) -> None:
        col = batch.column(value_col)
        if is_list:
            vals, _ = list_column_to_numpy(col)
        else:
            vals = col.to_numpy(zero_copy_only=False)
        sk.update_batch(vals)
        stats["n_rows"] += batch.num_rows
        stats["n_updates"] += len(vals)

    return update


def _build_task(zero_fn: Callable[[], MergeableSketch], update_fn: UpdateFn) -> TaskFn:
    def task(batches: Iterator[pa.RecordBatch]) -> tuple[MergeableSketch, dict]:
        sk = zero_fn()
        stats = dict.fromkeys(_STAT_COLS, 0)
        for b in batches:
            update_fn(sk, b, stats)
        return sk, stats

    return task


def _task_row(task_fn: TaskFn, batches: Iterator[pa.RecordBatch], part_id: int) -> pa.RecordBatch:
    """Run one task's build and frame it as its BLOB_SCHEMA row."""
    t0 = time.monotonic()
    sk, stats = task_fn(batches)
    row = {c: [stats.get(c, 0)] for c in _STAT_COLS}
    row.update(
        part_id=[part_id],
        sketch=[sk.to_bytes()],
        wall_ms=[(time.monotonic() - t0) * 1000.0],
        partial=[stats.get("partial")],
    )
    return pa.RecordBatch.from_pydict(row, schema=_BLOB_ARROW_SCHEMA)


def _per_task(task_fn: TaskFn):
    """mapInArrow function emitting one BLOB_SCHEMA row per task."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        yield _task_row(task_fn, batches, ctx.partitionId() if ctx is not None else -1)

    return fn


def _metrics(row) -> dict:
    return {k: v for k, v in row.asDict().items() if k not in ("sketch", "partial")}


def _merge_rows(rows) -> MergeableSketch:
    return from_bytes(bytes(rows[0].sketch)).merge_blobs(bytes(r.sketch) for r in rows[1:])


def _tree_pair(row) -> tuple[bytes, list[dict]]:
    return bytes(row.sketch), [_metrics(row)]


def _tree_merge(a: tuple[bytes, list], b: tuple[bytes, list]) -> tuple[bytes, list]:
    return from_bytes(a[0]).merge_blobs([b[0]]).to_bytes(), a[1] + b[1]


def _reduce(
    df: DataFrame, task_fn: TaskFn
) -> tuple[MergeableSketch, list[dict], list | None]:
    """Run `task_fn` once per task of `df` and merge the task sketches in
    one Spark job.  Returns (merged sketch, per-task metrics, partials):
    the tasks' `partial` stats in task order when the rows were collected
    (<= _COLLECT_MAX_TASKS tasks), None when they were treeReduced."""
    rdd = df.mapInArrow(_per_task(task_fn), BLOB_SCHEMA).rdd
    if rdd.getNumPartitions() <= _COLLECT_MAX_TASKS:
        rows = rdd.collect()
        if not rows:
            return task_fn(iter(()))[0], [], []
        return _merge_rows(rows), [_metrics(r) for r in rows], [r.partial for r in rows]
    blob, metrics = rdd.map(_tree_pair).treeReduce(_tree_merge, depth=2)
    return from_bytes(blob), sorted(metrics, key=lambda m: m["part_id"]), None


def build_sketch_distributed(
    df: DataFrame,
    zero_fn: Callable[[], MergeableSketch],
    update_fn: UpdateFn,
) -> tuple[MergeableSketch, list[dict]]:
    """Fast path: one map-only pass, no shuffle of raw rows, one job.

    Returns (merged sketch, per-task metrics: part_id, n_rows, n_tokens,
    n_updates, wall_ms).  Each task folds its batches into ``zero_fn()``
    with ``update_fn`` and ships one blob; see `_reduce` for the merge."""
    sk, metrics, _ = _reduce(df, _build_task(zero_fn, update_fn))
    return sk, metrics


def resolve_checkpoint_dir(spark, prefix: str) -> str:
    """Resolve a fresh checkpoint directory for build_sketch_checkpointed.

    Uses `spark.epichypersketch.checkpointDir` when set (REQUIRED on a real
    cluster: executors write bucket blobs with spark parquet writes, so the
    path must be on a filesystem every executor AND the driver can see —
    HDFS/S3/NFS).  Falls back to a driver-local tempdir, which is correct
    only in local mode where driver and "executors" share one machine.
    """
    import tempfile
    import uuid

    base = spark.conf.get("spark.epichypersketch.checkpointDir", None)
    if base:
        return f"{base.rstrip('/')}/{prefix}{uuid.uuid4().hex}"
    return tempfile.mkdtemp(prefix=prefix)


def delete_dir(spark, path: str) -> None:
    """Recursively delete `path` through the Hadoop FileSystem API, so it
    works for both local dirs and shared-filesystem checkpoint dirs."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath, True)


def build_sketch_checkpointed(
    df: DataFrame,
    zero_fn: Callable[[], MergeableSketch],
    update_fn: UpdateFn,
    *,
    checkpoint_dir: str,
    n_buckets: int = 64,
    doc_id_col: str = "doc_id",
) -> tuple[MergeableSketch, list[dict]]:
    """Resumable path: rows are hashed into stable buckets, one sketch blob is
    built and persisted per bucket, and completed buckets are skipped on
    re-run.  Costs one shuffle (groupBy bucket) — the price of bucket-atomic
    checkpoints; use build_sketch_distributed when resumability isn't needed.
    """
    spark = df.sparkSession
    done: set[int] = set()
    try:
        existing = spark.read.parquet(checkpoint_dir)
        done = {r.part_id for r in existing.select("part_id").distinct().collect()}
    except Exception:
        existing = None

    bucketed = df.withColumn(
        "__bucket", F.pmod(F.xxhash64(F.col(doc_id_col)), F.lit(n_buckets)).cast("int")
    )
    todo = bucketed.filter(~F.col("__bucket").isin(*done)) if done else bucketed

    task = _build_task(zero_fn, update_fn)

    def fn(key: tuple, table: pa.Table) -> pa.Table:
        batches = table.drop_columns(["__bucket"]).to_batches()
        return pa.Table.from_batches([_task_row(task, iter(batches), int(key[0].as_py()))])

    if todo.limit(1).count() > 0:
        todo.groupBy("__bucket").applyInArrow(fn, BLOB_SCHEMA).write.mode("append").parquet(
            checkpoint_dir
        )

    all_blobs = spark.read.parquet(checkpoint_dir)
    # dedupe defensively: a re-run appends identical blobs for a bucket;
    # keeping one per bucket keeps the merge exact.
    rows = (
        all_blobs.withColumn(
            "__rn",
            F.row_number().over(Window.partitionBy("part_id").orderBy("wall_ms")),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .collect()
    )
    if not rows:
        return zero_fn(), []
    return _merge_rows(rows), [_metrics(r) for r in rows]
