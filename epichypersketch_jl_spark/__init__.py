"""epichypersketch_jl_spark — a PySpark-native mergeable-sketch / approximate
aggregation engine.

Re-implements the capabilities of the reference ``kchu25/EpicHyperSketch.jl``
(fixed-space enumeration counting of k-wise token co-occurrence "motifs" via a
Count-Min Sketch; see /root/reference/src/count_gpu_extract.jl:203-250) as an
idiomatic Spark design:

    DataFrame -> mapInArrow(partition-local sketch build)
              -> associative tree merge (+)
              -> broadcast merged sketch
              -> mapInArrow(select + extract qualifying occurrences)

plus a family of mergeable sketches (CMS with conservative update, HyperLogLog,
Bloom, KLL, t-digest) and the large-scale training-data-pipeline operators
(dedup, similarity search, text analysis) that the same machinery enables.

All inner math is vectorized numpy over Arrow batches — no per-row Python.
"""

from .config import HyperSketchConfig
from .session import get_session, install_zip_directory_reuse, session_builder
from .sketches.cms import CountMinSketch
from .sketches.hll import HyperLogLog
from .sketches.bloom import BloomFilter
from .sketches.kll import KLL
from .sketches.tdigest import TDigest

__version__ = "0.1.0"

# every Python worker that unpickles an engine closure imports this package
install_zip_directory_reuse()

__all__ = [
    "get_session",
    "session_builder",
    "HyperSketchConfig",
    "CountMinSketch",
    "HyperLogLog",
    "BloomFilter",
    "KLL",
    "TDigest",
]
