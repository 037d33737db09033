"""Count Sketch (Charikar-Chen-Farach-Colton 2002) — the SIGNED counter
array: where the CMS only ever overcounts, the count sketch is UNBIASED
(estimates can under- or over-shoot; errors cancel in expectation), which
is what downstream algebra (frequency differences between corpora,
inner-product estimation) needs.  It is the bucketed generalization of
the AMS sketch (operators/moments): one bucket per row IS AMS; w buckets
shrink the variance to F2/w per row.

    update:   table[r, h_r(v)] += s_r(v) * count
    estimate: median over rows of s_r(v) * table[r, h_r(v)]
    merge:    elementwise + (associative, commutative)

Exactness discipline: BOTH hash families are the package's
SQL-expressible quadratic-permutation hash (sketches/kmv.py) at
different salt rows — bucket_r(v) = kmv_hash(v + r*STRIDE) mod w,
sign_r(v) from the parity of a disjoint salt row — so a SQL oracle can
rebuild any CELL of the table exactly (sum of signed counts over the
values hashing there) and therefore recompute the sketch's estimates
INCLUDING their collision error.  Depth should be odd so the median is
an integer (SQL-exact).

Like every family member: vectorized numpy ingest, fixed size, one blob
per partition, merge by +.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from ..errors import MergeError
from .base import MergeableSketch
from .kmv import kmv_hash

#: Salt stride between hash rows (shared convention with operators/moments).
STRIDE = 1_000_003
#: Sign hashes use salt rows offset by this, so bucket and sign derive
#: from disjoint permutation inputs.
SIGN_ROW_OFFSET = 64


def bucket_of(values: np.ndarray, row: int, width: int) -> np.ndarray:
    return kmv_hash(np.asarray(values, dtype=np.int64) + row * STRIDE) % width


def sign_of(values: np.ndarray, row: int) -> np.ndarray:
    h = kmv_hash(
        np.asarray(values, dtype=np.int64) + (row + SIGN_ROW_OFFSET) * STRIDE
    )
    return 1 - 2 * (h % 2)


class CountSketch(MergeableSketch):
    TAG = b"CSK1"

    def __init__(
        self,
        *,
        width: int = 1024,
        depth: int = 5,
        _table: np.ndarray | None = None,
        _n_updates: int = 0,
    ) -> None:
        if width < 2:
            raise ValueError("width must be >= 2")
        if depth < 1 or depth % 2 == 0:
            raise ValueError("depth must be a positive ODD integer (integer median)")
        if depth > SIGN_ROW_OFFSET:
            # row SIGN_ROW_OFFSET's bucket salt would equal row 0's sign
            # salt, correlating the two hash families and silently degrading
            # the unbiasedness guarantee (ADVICE r4)
            raise ValueError(f"depth must be <= {SIGN_ROW_OFFSET} to keep bucket and sign salt rows disjoint")
        self.width = int(width)
        self.depth = int(depth)
        self.table = (
            _table
            if _table is not None
            else np.zeros((self.depth, self.width), dtype=np.int64)
        )
        self.n_updates = int(_n_updates)

    # ---------------------------------------------------------------- update
    def update_batch(self, values: np.ndarray, counts: np.ndarray | None = None) -> None:
        values = np.asarray(values, dtype=np.int64).ravel()
        n = values.size
        if n == 0:
            return
        c = (
            np.ones(n, dtype=np.int64)
            if counts is None
            else np.ascontiguousarray(counts, dtype=np.int64)
        )
        for r in range(self.depth):
            np.add.at(self.table[r], bucket_of(values, r, self.width), sign_of(values, r) * c)
        self.n_updates += int(n if counts is None else c.sum())

    # ----------------------------------------------------------------- query
    def estimate(self, values: np.ndarray) -> np.ndarray:
        """Unbiased frequency estimates (int64): median over rows of the
        signed cell reads.  Depth is odd, so the median is an element —
        integer-exact and SQL-recomputable."""
        values = np.asarray(values, dtype=np.int64).ravel()
        ests = np.empty((self.depth, values.size), dtype=np.int64)
        for r in range(self.depth):
            ests[r] = sign_of(values, r) * self.table[r, bucket_of(values, r, self.width)]
        ests.sort(axis=0)
        return ests[self.depth // 2]

    # ----------------------------------------------------------------- merge
    def _compat(self, other: "CountSketch") -> None:
        if not isinstance(other, CountSketch) or (self.width, self.depth) != (
            other.width,
            other.depth,
        ):
            raise MergeError("incompatible CountSketch parameters")

    def merge(self, other: "CountSketch") -> "CountSketch":
        self._compat(other)
        return CountSketch(
            width=self.width,
            depth=self.depth,
            _table=self.table + other.table,
            _n_updates=self.n_updates + other.n_updates,
        )

    def subtract(self, other: "CountSketch") -> "CountSketch":
        """Signed DIFFERENCE sketch: estimates of (self - other) are
        unbiased estimates of the per-key frequency difference — the
        corpus-shift / drift-detection primitive a one-sided CMS cannot
        express (its counters never decrease).  Same linearity as merge:
        sketch(A) - sketch(B) == sketch of the signed multiset A - B."""
        self._compat(other)
        return CountSketch(
            width=self.width,
            depth=self.depth,
            _table=self.table - other.table,
            _n_updates=self.n_updates + other.n_updates,
        )

    # ------------------------------------------------------------- serialize
    def _payload(self) -> bytes:
        amax = int(np.abs(self.table).max()) if self.table.size else 0
        dtype = (
            np.int16 if amax < 2**15 else np.int32 if amax < 2**31 else np.int64
        )
        body = zlib.compress(
            np.ascontiguousarray(self.table, dtype=dtype).tobytes(), 1
        )
        hdr = struct.pack("<iiqB", self.depth, self.width, self.n_updates, dtype().itemsize)
        return hdr + body

    @classmethod
    def _from_payload(cls, payload: bytes) -> "CountSketch":
        hsz = struct.calcsize("<iiqB")
        depth, width, n_up, isz = struct.unpack("<iiqB", payload[:hsz])
        dtype = {2: np.int16, 4: np.int32, 8: np.int64}[isz]
        table = (
            np.frombuffer(zlib.decompress(payload[hsz:]), dtype=dtype)
            .reshape(depth, width)
            .astype(np.int64)
        )
        return cls(width=width, depth=depth, _table=table, _n_updates=n_up)

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, CountSketch)
            and self.width == other.width
            and self.depth == other.depth
            and np.array_equal(self.table, other.table)
        )
