"""Shared protocol for all mergeable sketches.

Every sketch implements:
    zero-construction (constructor with params + seed)
    update_batch(...)   — vectorized numpy ingest, no per-row Python
    merge(other)        — associative + commutative; partition/order invariant
    merge_blobs(blobs)  — fold serialized sketches into this one (the one
                          fan-in hook every reduction calls)
    estimate(...)/query — point or distribution queries
    to_bytes()/from_bytes() — self-describing serialization for shipping
                              through Arrow binary columns and checkpoints

The merge algebra is what makes the Spark plan work: partition-local build
inside mapInArrow, then a treeAggregate-style reduction of serialized blobs
(SURVEY.md §2 #12).  The reference gets the same algebra implicitly by
sharing one sketch object across batches/partitions (src/partition.jl:148).
"""

from __future__ import annotations

import struct
from typing import ClassVar, Iterable

_MAGIC = b"EHS1"
_REGISTRY: dict[bytes, type] = {}


class MergeableSketch:
    """Base: registration + framed serialization dispatch."""

    TAG: ClassVar[bytes] = b"????"  # 4-byte subclass tag

    def __init_subclass__(cls, **kw):
        super().__init_subclass__(**kw)
        if cls.TAG != b"????":
            _REGISTRY[cls.TAG] = cls

    # --- subclass responsibilities -------------------------------------
    def merge(self, other: "MergeableSketch") -> "MergeableSketch":
        raise NotImplementedError

    def _payload(self) -> bytes:
        raise NotImplementedError

    @classmethod
    def _from_payload(cls, payload: bytes) -> "MergeableSketch":
        raise NotImplementedError

    def merge_blobs(self, blobs: Iterable[bytes]) -> "MergeableSketch":
        """Merge serialized sketches into this one, left to right in the
        order given; returns the merged sketch.  Families with a faster
        blob-level fan-in (CMS) override this."""
        sk = self
        for blob in blobs:
            sk = sk.merge(from_bytes(blob))
        return sk

    # --- framing --------------------------------------------------------
    def to_bytes(self) -> bytes:
        payload = self._payload()
        return _MAGIC + self.TAG + struct.pack("<q", len(payload)) + payload

    def __add__(self, other):
        return self.merge(other)


def from_bytes(blob: bytes) -> MergeableSketch:
    if blob[:4] != _MAGIC:
        raise ValueError("not an EHS sketch blob")
    tag = blob[4:8]
    (n,) = struct.unpack("<q", blob[8:16])
    cls = _REGISTRY.get(tag)
    if cls is None:
        raise ValueError(f"unknown sketch tag {tag!r}")
    return cls._from_payload(blob[16 : 16 + n])
