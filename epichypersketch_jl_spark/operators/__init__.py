from .sketch_build import build_sketch_distributed, build_sketch_checkpointed
from .motif import enriched_configurations, build_motif_cms, motif_summary, motif_counts

__all__ = [
    "build_sketch_distributed",
    "build_sketch_checkpointed",
    "enriched_configurations",
    "build_motif_cms",
    "motif_summary",
    "motif_counts",
]
