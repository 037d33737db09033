"""Structured-Streaming sketch maintenance.

The reference has no streaming surface (SURVEY.md §2 "categories with no
counterpart"); this is new capability the merge algebra makes nearly free:
each micro-batch builds partition-local sketches exactly like the batch
path and appends the blobs to a sink directory; the up-to-date global
sketch is the merge of all blobs (order-invariant, so late/retried
micro-batches are harmless).  With `availableNow` the same job is an
incremental backfill; with a continuous trigger it maintains a live sketch.

foreachBatch is used instead of a custom stateful operator because the
state we maintain IS a mergeable blob — checkpointing it through the sink
directory gives exactly-once-per-batch-id semantics without
applyInPandasWithState's state-size limits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import HyperSketchConfig
from ..functions.motif_kernels import make_cms
from ..operators.motif import _is_conv, _make_update_fn, _prepared
from ..operators.sketch_build import BLOB_SCHEMA, _build_task, _merge_rows, _per_task
from ..sketches.cms import CountMinSketch


class StreamingAnySketchJob:
    """Maintain ANY mergeable sketch over a stream: plug a zero_fn
    () -> sketch and an update_fn (sketch, RecordBatch, stats) -> None
    (the exact signature build_sketch_distributed uses), and each
    micro-batch appends one blob per task; the live sketch is the merge
    of all blobs.  Works for CMS, HLL, KMV, Bloom, KLL, t-digest:

        job = StreamingAnySketchJob(
            lambda: HyperLogLog(p=14, seed=42),
            lambda sk, b, st: sk.update_batch(
                b.column("user_id").to_numpy(zero_copy_only=False)),
            blob_dir)

    Order-invariance of the merge makes late and retried micro-batches
    harmless; dedup by (batch_id, part_id) makes sink retries idempotent.
    Subclasses may override _prepare to project/filter each micro-batch
    before the kernel (the CMS job narrows to the sequence columns).
    """

    def __init__(self, zero_fn, update_fn, blob_dir: str):
        self.zero_fn = zero_fn
        self.update_fn = update_fn
        self.blob_dir = blob_dir

    def _prepare(self, batch_df: DataFrame) -> DataFrame:
        return batch_df

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        fn = _per_task(_build_task(self.zero_fn, self.update_fn))
        (
            self._prepare(batch_df)
            .mapInArrow(fn, BLOB_SCHEMA)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(self.blob_dir)
        )

    def start(
        self,
        stream_df: DataFrame,
        *,
        checkpoint_dir: str,
        available_now: bool = True,
    ):
        writer = (
            stream_df.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def current_sketch(self, spark: SparkSession):
        """Merge of everything ingested so far (dedup by (batch_id, part_id)
        so sink retries cannot double-count); the zero sketch when no
        micro-batch has committed yet — including before the sink
        directory exists."""
        from pyspark.errors import AnalysisException

        try:
            rows = (
                spark.read.parquet(self.blob_dir)
                .dropDuplicates(["batch_id", "part_id"])
                .select("sketch")
                .collect()
            )
        except AnalysisException:  # PATH_NOT_FOUND before the first commit
            return self.zero_fn()
        if not rows:
            return self.zero_fn()
        return _merge_rows(rows)


class StreamingSketchJob(StreamingAnySketchJob):
    """Maintain a global motif CMS over a stream of sequence rows — the
    CMS instantiation of StreamingAnySketchJob (same blob-append,
    idempotence, and merge semantics)."""

    def __init__(self, cfg: HyperSketchConfig, blob_dir: str, conv: bool = False):
        super().__init__(
            lambda: make_cms(cfg, conv), _make_update_fn(cfg, conv), blob_dir
        )
        self.cfg = cfg
        self.conv = conv

    def _prepare(self, batch_df: DataFrame) -> DataFrame:
        return _prepared(batch_df, self.cfg, self.conv, with_weights=False)

    def current_sketch(self, spark: SparkSession) -> CountMinSketch:
        return super().current_sketch(spark)
