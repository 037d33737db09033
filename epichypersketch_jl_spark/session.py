"""SparkSession builder defaults for this engine.

Codifies the session configuration the operators are designed around, so a
user switching from the reference gets the intended plan shapes without
archaeology through jobs/ and bench.py:

  * AQE on — runtime coalescing + skew-join handling for the dedup /
    similarity self-joins;
  * Arrow batch size bounded — the motif kernels chunk internally via
    max_cells, but the Arrow transfer batch is what bounds transient
    JVM->Python buffers;
  * shuffle partitions sized to the cluster rather than the 200 default.

Everything here is a default — any user-provided conf wins.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession

DEFAULT_ARROW_BATCH_ROWS = 4096

#: glibc malloc tuning for the numpy kernels.  Temp arrays above glibc's
#: default 128 KiB mmap threshold are served by mmap and returned by munmap
#: on free, so every kernel chunk pays page-fault + page-zeroing kernel time
#: and serializes on mm locks; measured on the bench host: a 32-process
#: pure-numpy loop spent 65% of its cycles in SYSTEM time and scaled 8->32
#: at 0.37 efficiency — raising the thresholds moved it to 0.02% system /
#: 0.71 efficiency (the residual is turbo/SMT, not kernel).  Trade-off: a
#: worker's heap stays at its high-water mark instead of trimming — bounded
#: by peak temp usage per worker, the right trade for a long-lived executor.
MALLOC_TUNING = {
    "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
    "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
}


def apply_malloc_tuning(env: dict | None = None) -> None:
    """Set the glibc malloc env defaults (no-op for keys already set).
    Call BEFORE creating the SparkSession: in local mode the JVM — and the
    Python workers it spawns — inherit the driver process environment, and
    glibc reads these variables once at process start.  On a real cluster
    set them via spark.executorEnv.* instead (session_builder does)."""
    target = os.environ if env is None else env
    for k, v in MALLOC_TUNING.items():
        target.setdefault(k, v)


#: The stdlib zipimporter.invalidate_caches: re-reads the archive's whole
#: central directory on every call.
_EAGER_ZIP_INVALIDATE = zipimport.zipimporter.invalidate_caches
#: archive path -> (st_mtime_ns, st_size, st_ino) when its directory was read.
_ZIP_STAMPS: dict = {}


def _reuse_zip_directory(self) -> None:
    """zipimporter.invalidate_caches that re-reads the archive's directory
    only when the archive changed since the last read.  One stamp per
    archive path, so the many importers of one archive (a pyspark.zip on
    sys.path gets one per package prefix) share a single read."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _ZIP_STAMPS.get(self.archive) == stamp:
        self._files = files
        return
    _EAGER_ZIP_INVALIDATE(self)  # stat before the read: a change in between re-reads next time
    _ZIP_STAMPS[self.archive] = stamp


def install_zip_directory_reuse() -> None:
    """Stop a PySpark worker from re-reading every zip on sys.path per task.

    pyspark.worker_util.setup_spark_files calls importlib.invalidate_caches()
    on every task, and on CPython 3.11/3.12 each zipimporter then re-reads
    its archive's central directory: a worker holds ~16 of them (pyspark.zip,
    py4j, the spark-core jar), 54-92 ms of CPU per task on a 4-core VM.
    Applies only inside a PySpark worker process and only where the stdlib
    reads eagerly (3.13's zipimporter has _get_files and is already lazy)."""
    zi = zipimport.zipimporter
    if "pyspark.worker" not in sys.modules or hasattr(zi, "_get_files"):
        return
    zi.invalidate_caches = _reuse_zip_directory


def session_builder(
    app_name: str = "epichypersketch",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = DEFAULT_ARROW_BATCH_ROWS,
) -> "SparkSession.Builder":
    """Builder pre-loaded with the engine's recommended configuration.

    shuffle_partitions: set explicitly for deterministic plans in tests;
    when None, `get_session` sizes it to 2x the cluster's default
    parallelism after the session starts (the builder itself cannot know
    the cluster size).
    """
    apply_malloc_tuning()
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    b = (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for k, v in MALLOC_TUNING.items():
        b = b.config(f"spark.executorEnv.{k}", v)
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return b


def get_session(app_name: str = "epichypersketch", **kw) -> SparkSession:
    """Create (or get) a session with the recommended configuration; when
    shuffle_partitions was not given AND the key was not explicitly set
    anywhere (spark-submit --conf, spark-defaults.conf, a pre-existing
    session's builder), size it to 2x the default parallelism — AQE only
    coalesces DOWN, so the 200 stock default silently caps wide-stage
    parallelism on big clusters.  Explicitness is checked via the
    SparkConf key itself (not by comparing against 200), so a deliberate
    `--conf spark.sql.shuffle.partitions=200` is honored."""
    explicit = kw.get("shuffle_partitions") is not None
    spark = session_builder(app_name, **kw).getOrCreate()
    if not explicit:
        explicit = spark.sparkContext.getConf().contains("spark.sql.shuffle.partitions")
    if not explicit and spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(2 * spark.sparkContext.defaultParallelism),
        )
    return spark
