"""Count-Min Sketch over integer k-tuple keys — vectorized numpy.

Semantics match the reference (SURVEY.md §2 #9-#13):

* table: (d x w) counters, d = ceil(ln(1/delta)), w = ceil(e/eps)
  (reference src/sketch.jl:39-78; defaults src/EpicHyperSketch.jl:14-16).
* per-row hash of a key (t_1..t_h): (sum_j t_j * coeff[r, j]) mod (d*w) mod w,
  coefficients uniform in [1, d*w-1], seeded (reference src/count_gpu.jl:21-30,
  133-136; coeffs src/sketch.jl:63-69).  We accumulate in int64 so the
  double-mod is exact (the reference relies on Int32 wraparound absorbed by
  the mods — src/EpicHyperSketch.jl:10, test/debug_negative_hash.jl).
* point query: min over ALL d rows (the GPU path, src/count_gpu.jl:139-155);
  we deliberately do NOT reproduce the CPU path's row-1-only read
  (src/count_cpu.jl:172,213) — see SURVEY.md §2 #13.
* merge: elementwise +, valid because coefficients are seed-derived and thus
  identical on every executor (reference shares one sketch object instead,
  src/partition.jl:148).
* conservative update (optional): never-undercount preserved, strictly
  tighter estimates; merge by + stays sound because each cell still upper-
  bounds every key counted into it within its partition.

Counters are int64: at the 10^12-sequence design scale a single heavy key
exceeds int32.
"""

from __future__ import annotations

import struct

import numpy as np

from ..config import cms_dims
from ..errors import MergeError
from .base import MergeableSketch


class CountMinSketch(MergeableSketch):
    TAG = b"CMS1"

    def __init__(
        self,
        *,
        delta: float = 1e-4,
        epsilon: float = 5e-5,
        key_width: int = 1,
        seed: int = 42,
        conservative: bool = False,
        depth: int | None = None,
        width: int | None = None,
        _table: np.ndarray | None = None,
        _n_updates: int = 0,
    ) -> None:
        d, w = cms_dims(delta, epsilon)
        self.depth = int(depth if depth is not None else d)
        self.width = int(width if width is not None else w)
        self.key_width = int(key_width)
        self.seed = int(seed)
        self.conservative = bool(conservative)
        self.delta = float(delta)
        self.epsilon = float(epsilon)
        # Seed-derived coefficients => identical across executors => mergeable.
        rng = np.random.default_rng(self.seed)
        self.coeffs = rng.integers(
            1, self.depth * self.width, size=(self.depth, self.key_width), dtype=np.int64
        )
        if _table is not None:
            self.table = _table
        else:
            self.table = np.zeros((self.depth, self.width), dtype=np.int64)
        self.n_updates = int(_n_updates)  # total increments N, for the eps*N bound

    # ------------------------------------------------------------------ hash
    def bucket_indices(self, keys: np.ndarray, *, vmax: int | None = None) -> np.ndarray:
        """(n, key_width) int array -> (d, n) bucket indices.

        Semantically the reference's double mod, `(Σ t_j·c_rj) % (d·w) % w`
        (src/count_gpu.jl:133-136), computed as a single `% w` — identical
        because w | d·w.  One int64 matmul + one in-place modulus + one
        int32 narrowing, returned row-contiguous (d, n) so per-row bincount/
        gather reads stream sequentially.  Huge key values are pre-reduced
        `% w` first (valid: (a mod w)·c ≡ a·c (mod w)), which caps every
        product at w·d·w < 2^36 — no overflow for any input.

        `vmax`, when given, is a caller-supplied bound 0 <= key <= vmax
        for EVERY cell: the overflow guard then decides without scanning
        the key array.  On enumeration-sized key streams the max/min
        scans are otherwise a top-line cost (measured ~50% of the k=3
        aggregate kernel) because every chunk is scanned several times
        across the pack/guard probes.
        """
        keys = np.asarray(keys)
        if keys.ndim == 1:
            keys = keys[:, None]
        if keys.shape[1] != self.key_width:
            raise ValueError(f"key width {keys.shape[1]} != {self.key_width}")
        # overflow guard: |key| * (d*w-1) * k must stay within int64; beyond
        # that, pre-reduce mod w (valid: (a mod w)·c ≡ a·c (mod w)), which
        # caps every subsequent product at w·d·w·k ≪ 2^63 for any params
        limit = (2**62) // (self.depth * self.width * max(1, keys.shape[1]))
        if vmax is not None:
            if vmax >= limit:
                keys = keys % self.width
        elif keys.size and (int(keys.max()) >= limit or int(keys.min()) <= -limit):
            keys = keys % self.width
        raw = keys @ self.coeffs.T  # int64 (n, d)
        np.remainder(raw, self.width, out=raw)
        return np.ascontiguousarray(raw.astype(np.int32).T)

    # ------------------------------------------------------------- key dedup
    # Dense-counting cap: packed key spaces up to 2^BINCOUNT_BITS use O(n)
    # bincount + lookup tables instead of O(n log n) sort-based unique.
    BINCOUNT_BITS = 22

    @staticmethod
    def _key_bits(keys: np.ndarray, vmax: int | None = None) -> list[int] | None:
        """Per-column bit widths for packing, or None if unpackable
        (negative values or > 63 total bits).  With a caller-supplied
        `vmax` (bound for every cell, implying non-negativity) the widths
        come from the bound — no scan of the key array."""
        if keys.shape[0] == 0:
            return None
        if vmax is not None:
            b = max(1, int(vmax).bit_length())
            bits = [b] * keys.shape[1]
            return bits if sum(bits) <= 63 else None
        maxs = keys.max(axis=0)
        if int(keys.min()) < 0:
            return None
        bits = [max(1, int(m).bit_length()) for m in maxs]
        return bits if sum(bits) <= 63 else None

    @staticmethod
    def _pack_with_bits(keys: np.ndarray, bits: list[int]) -> np.ndarray:
        packed = keys[:, 0].astype(np.int64)
        for j in range(1, keys.shape[1]):
            packed <<= bits[j]
            # in-place OR casts narrower integer columns through numpy's
            # buffered loop — no per-column int64 materialization
            packed |= keys[:, j]
        return packed

    @staticmethod
    def _pack_keys_info(
        keys: np.ndarray, vmax: int | None = None
    ) -> tuple[np.ndarray | None, list[int] | None]:
        """Bijectively pack non-negative (n, k) int rows into one int64 per
        row when the per-column bit widths sum to <= 63; else (None, None).
        Returns (packed, per-column bit widths)."""
        bits = CountMinSketch._key_bits(keys, vmax)
        if bits is None:
            return None, None
        return CountMinSketch._pack_with_bits(keys, bits), bits

    @staticmethod
    def _pack_keys(keys: np.ndarray) -> np.ndarray | None:
        return CountMinSketch._pack_keys_info(keys)[0]

    @staticmethod
    def _unpack_keys(packed: np.ndarray, bits: list[int]) -> np.ndarray:
        """Inverse of _pack_keys_info for the given bit layout."""
        k = len(bits)
        out = np.empty((len(packed), k), dtype=np.int64)
        v = packed.copy()
        for j in range(k - 1, 0, -1):
            out[:, j] = v & ((1 << bits[j]) - 1)
            v >>= bits[j]
        out[:, 0] = v
        return out

    def update_batch_grouped(
        self,
        keys: np.ndarray,
        counts: np.ndarray | None = None,
        *,
        vmax: int | None = None,
    ) -> None:
        """update_batch with duplicate-key folding: hash each DISTINCT key
        once, scatter with multiplicity weights.  Dense key spaces (packed
        width <= BINCOUNT_BITS) fold in O(n) via bincount; wider ones via
        sort-based unique; mostly-distinct or unpackable streams fall back
        to the direct path (sampled heuristic)."""
        keys = np.asarray(keys)
        if keys.ndim == 1:
            keys = keys[:, None]
        bits = self._key_bits(keys, vmax)
        if bits is None:
            return self.update_batch(keys, counts, vmax=vmax)
        if sum(bits) <= self.BINCOUNT_BITS:
            packed = self._pack_with_bits(keys, bits)
            dense = (
                np.bincount(packed, minlength=1 << sum(bits))
                if counts is None
                else np.bincount(packed, weights=counts, minlength=1 << sum(bits))
            )
            nz = np.flatnonzero(dense)
            return self.update_batch(self._unpack_keys(nz, bits), dense[nz].astype(np.int64))
        # decide from a sample before paying the full pack cost
        n = keys.shape[0]
        sample = keys[:: max(1, n // 4096)][:4096]
        if np.unique(self._pack_with_bits(sample, bits)).size >= 0.6 * sample.shape[0]:
            return self.update_batch(keys, counts, vmax=vmax)
        packed = self._pack_with_bits(keys, bits)
        uniq, first_idx, ucnt = np.unique(packed, return_index=True, return_counts=True)
        c = ucnt.astype(np.int64) if counts is None else np.bincount(
            np.searchsorted(uniq, packed), weights=counts
        ).astype(np.int64)
        self.update_batch(keys[first_idx], c, vmax=vmax)

    def estimate_grouped(
        self, keys: np.ndarray, *, vmax: int | None = None
    ) -> np.ndarray:
        """estimate() with duplicate-key folding (same strategy ladder)."""
        keys = np.asarray(keys)
        if keys.ndim == 1:
            keys = keys[:, None]
        bits = self._key_bits(keys, vmax)
        if bits is None:
            return self.estimate(keys, vmax=vmax)
        if sum(bits) <= self.BINCOUNT_BITS:
            packed = self._pack_with_bits(keys, bits)
            space = 1 << sum(bits)
            seen = np.zeros(space, dtype=bool)
            seen[packed] = True
            nz = np.flatnonzero(seen)
            lut = np.zeros(space, dtype=np.int64)
            lut[nz] = self.estimate(self._unpack_keys(nz, bits))
            return lut[packed]
        n = keys.shape[0]
        sample = keys[:: max(1, n // 4096)][:4096]
        if np.unique(self._pack_with_bits(sample, bits)).size >= 0.6 * sample.shape[0]:
            return self.estimate(keys, vmax=vmax)
        packed = self._pack_with_bits(keys, bits)
        uniq, first_idx, inv = np.unique(packed, return_index=True, return_inverse=True)
        return self.estimate(keys[first_idx], vmax=vmax)[inv]

    # ---------------------------------------------------------------- update
    def update_batch(
        self,
        keys: np.ndarray,
        counts: np.ndarray | None = None,
        *,
        vmax: int | None = None,
    ) -> None:
        """Add `counts[i]` (default 1) occurrences of each key row."""
        if not self.table.flags.writeable:
            # checked here: on numpy 1.26 ufunc.at (the sparse and
            # conservative paths below) ignores the writeable flag
            raise ValueError("CountMinSketch table is read-only (a shared, frozen sketch)")
        keys = np.asarray(keys)
        if keys.ndim == 1:
            keys = keys[:, None]
        n = keys.shape[0]
        if n == 0:
            return
        unit = counts is None
        if counts is None:
            counts = np.ones(n, dtype=np.int64)
        else:
            counts = np.ascontiguousarray(counts, dtype=np.int64)
        idx = self.bucket_indices(keys, vmax=vmax)  # (d, n)
        if not self.conservative:
            if n < self.width // 4:
                # sparse increments: scatter-add in place.  bincount here
                # would allocate (and mmap/munmap, above the malloc mmap
                # threshold) a width-sized array per row per call — for a
                # wide table (eps=1e-5 -> w=272k, 2.2 MB/row) that measured
                # as GBs of allocation churn per job and page-fault storms
                # that degraded every subsequent task in the reused workers.
                for r in range(self.depth):
                    np.add.at(self.table[r], idx[r], counts)
            else:
                for r in range(self.depth):
                    # bincount is the fast path for dense repeated
                    # increments; the weightless variant stays integer
                    if unit:
                        self.table[r] += np.bincount(idx[r], minlength=self.width)
                    else:
                        self.table[r] += np.bincount(
                            idx[r], weights=counts, minlength=self.width
                        ).astype(np.int64)
        else:
            self._conservative_update(idx, counts)
        self.n_updates += n if unit else int(counts.sum())

    def _conservative_update(self, idx: np.ndarray, counts: np.ndarray) -> None:
        """Batched conservative update.

        Group duplicate keys (by their full d-tuple of buckets), then for each
        unique key set every row cell to max(cell, est_before + count).  This
        equals item-wise CU when keys don't share cells and remains a valid
        never-undercount overapproximation when they do (cells only grow, and
        each key's new min >= its pre-batch estimate + its batch count).
        """
        uniq, inv = np.unique(idx.T, axis=0, return_inverse=True)  # (u, d)
        ucnt = np.bincount(inv, weights=counts).astype(np.int64)  # (u,)
        uidx = uniq.T  # (d, u)
        est = self.table[np.arange(self.depth)[:, None], uidx].min(axis=0)  # (u,)
        target = est + ucnt
        for r in range(self.depth):
            np.maximum.at(self.table[r], uidx[r], target)

    # ----------------------------------------------------------------- query
    def estimate(self, keys: np.ndarray, *, vmax: int | None = None) -> np.ndarray:
        """Point query: min over all d rows (true CMS min, never undercounts)."""
        idx = self.bucket_indices(keys, vmax=vmax)  # (d, n) row-contiguous
        out = self.table[0][idx[0]]
        for r in range(1, self.depth):
            np.minimum(out, self.table[r][idx[r]], out=out)
        return out

    # ----------------------------------------------------------------- merge
    def _compat(self, other: "CountMinSketch") -> None:
        if not isinstance(other, CountMinSketch):
            raise MergeError(f"cannot merge CMS with {type(other).__name__}")
        if (
            self.depth != other.depth
            or self.width != other.width
            or self.key_width != other.key_width
            or self.seed != other.seed
            or self.conservative != other.conservative
        ):
            raise MergeError("incompatible CMS parameters")

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        self._compat(other)
        return CountMinSketch(
            delta=self.delta,
            epsilon=self.epsilon,
            key_width=self.key_width,
            seed=self.seed,
            conservative=self.conservative,
            depth=self.depth,
            width=self.width,
            _table=self.table + other.table,
            _n_updates=self.n_updates + other.n_updates,
        )

    def merge_inplace(self, other: "CountMinSketch") -> "CountMinSketch":
        self._compat(other)
        self.table += other.table
        self.n_updates += other.n_updates
        return self

    def merge_blob_inplace(self, blob: bytes) -> "CountMinSketch":
        """Merge a serialized CMS blob directly into this sketch — the
        driver/reducer fast path on the merge critical path.  Equivalent to
        ``merge_inplace(from_bytes(blob))`` (pytest-pinned) but skips both
        the throwaway sketch object and the ``astype(int64)`` widening
        copy: the decompressed narrow table adds into the int64
        accumulator through numpy's buffered mixed-dtype loop, so a
        parity-width table (depth 10 x width 272k = 21.8 MB int64) never
        materializes per blob.  Measured: ~2x faster fan-in merge on
        32-blob collects."""
        import zlib

        payload = self._blob_payload(blob)
        n_up, isz_f = self._check_blob_header(payload)
        hsz = struct.calcsize("<iiiqBddqb")
        self._apply_raw(zlib.decompress(payload[hsz:]), isz_f, n_up)
        return self

    def merge_blobs_inplace(self, blobs) -> "CountMinSketch":
        """Fan-in merge of many serialized blobs.  Both the decompression
        and the dense/sparse accumulation release the GIL for their bulk
        work, so blobs are partitioned across a small thread pool, each
        thread folding its share into a private int64 partial table; the
        partials then sum into self (integer adds — associative, exact).
        Driver-side reduction of a 32-task build at parity width measured
        0.30 s -> ~0.12 s (sparse blobs) / 0.34 s -> ~0.15 s (dense)."""
        import zlib
        from concurrent.futures import ThreadPoolExecutor

        hsz = struct.calcsize("<iiiqBddqb")
        payloads = [self._blob_payload(b) for b in blobs]
        metas = [self._check_blob_header(p) for p in payloads]
        items = list(zip(payloads, metas))
        if len(items) < 8:
            for p, (n_up, isz_f) in items:
                self._apply_raw(zlib.decompress(p[hsz:]), isz_f, n_up)
            return self
        n_threads = 4
        chunks = [items[i::n_threads] for i in range(n_threads)]

        def fold(chunk):
            acc = CountMinSketch.__new__(CountMinSketch)
            acc.depth, acc.width = self.depth, self.width
            acc.table = np.zeros((self.depth, self.width), dtype=np.int64)
            acc.n_updates = 0
            for p, (n_up, isz_f) in chunk:
                CountMinSketch._apply_raw(acc, zlib.decompress(p[hsz:]), isz_f, n_up)
            return acc

        with ThreadPoolExecutor(max_workers=n_threads) as pool:
            for acc in pool.map(fold, chunks):
                self.table += acc.table
                self.n_updates += acc.n_updates
        return self

    def _blob_payload(self, blob: bytes) -> bytes:
        from .base import _MAGIC

        if blob[:4] != _MAGIC or blob[4:8] != self.TAG:
            raise ValueError("not a CMS blob")
        (n,) = struct.unpack("<q", blob[8:16])
        return blob[16 : 16 + n]

    def _check_blob_header(self, payload: bytes) -> tuple[int, int]:
        """Validate a CMS payload header against self; returns
        (n_updates, isz_field)."""
        hsz = struct.calcsize("<iiiqBddqb")
        depth, width, key_width, seed, cons, _d, _e, n_up, isz_f = struct.unpack(
            "<iiiqBddqb", payload[:hsz]
        )
        if (depth, width, key_width, seed, bool(cons)) != (
            self.depth,
            self.width,
            self.key_width,
            self.seed,
            self.conservative,
        ):
            raise ValueError(
                "cannot merge CMS blobs with different parameters "
                f"(got d={depth} w={width} k={key_width} seed={seed})"
            )
        return n_up, isz_f

    def _apply_raw(self, raw: bytes, isz_f: int, n_up: int) -> None:
        depth, width = self.depth, self.width
        if isz_f < 0:
            # sparse blob: scatter-add straight into the int64 accumulator —
            # indices are unique per blob, so fancy-index += is exact
            isz = -isz_f
            dtype = {2: np.int16, 4: np.int32, 8: np.int64}[isz]
            cells = depth * width
            idx_isz = 4 if cells < 2**31 else 8
            idx_dtype = np.int32 if idx_isz == 4 else np.int64
            nnz = len(raw) // (idx_isz + isz)
            idx = np.frombuffer(raw[: nnz * idx_isz], dtype=idx_dtype)
            vals = np.frombuffer(raw[nnz * idx_isz :], dtype=dtype)
            flat = self.table.ravel()
            flat[idx] += vals
        else:
            dtype = {2: np.int16, 4: np.int32, 8: np.int64}[isz_f]
            self.table += np.frombuffer(raw, dtype=dtype).reshape(depth, width)
        self.n_updates += n_up

    # ------------------------------------------------------------- serialize
    # Blobs travel through shuffles / broadcasts / checkpoints constantly, so
    # their size is on the merge critical path: narrow to the smallest dtype
    # that holds the current max counter, then zlib (partition sketches are
    # sparse/low-entropy; 4.3 MB int64 -> typically < 200 KB).
    #
    # Layout is chosen per blob: a partition sketch of a WIDE table (parity
    # epsilons push w to 272k-2.7M cells) typically has far fewer nonzero
    # cells than cells, so a (unique flat index, value) sparse encoding is
    # both smaller on the wire and — the part on the critical path — far
    # cheaper to MERGE: the reducer scatter-adds nnz values instead of
    # decompressing and adding a dense width x depth array per blob
    # (measured 0.32 s -> 0.04 s for a 32-blob driver fan-in at w=272k).
    # The itemsize byte doubles as the layout flag: |isz| with sign bit set
    # (negative) = sparse, positive = dense — header struct unchanged.
    def _payload(self) -> bytes:
        import zlib

        tmax = int(self.table.max()) if self.table.size else 0
        dtype = np.int16 if tmax < 2**15 else np.int32 if tmax < 2**31 else np.int64
        isz = dtype().itemsize
        cells = self.table.size
        flat = self.table.ravel()
        nz = np.flatnonzero(flat)
        idx_dtype = np.int32 if cells < 2**31 else np.int64
        sparse_bytes = nz.size * (idx_dtype().itemsize + isz)
        if sparse_bytes < cells * isz:
            body = zlib.compress(
                nz.astype(idx_dtype).tobytes() + flat[nz].astype(dtype).tobytes(), 1
            )
            isz_field = -isz
        else:
            body = zlib.compress(
                np.ascontiguousarray(self.table, dtype=dtype).tobytes(), 1
            )
            isz_field = isz
        hdr = struct.pack(
            "<iiiqBddqb",
            self.depth,
            self.width,
            self.key_width,
            self.seed,
            1 if self.conservative else 0,
            self.delta,
            self.epsilon,
            self.n_updates,
            isz_field,
        )
        return hdr + body

    @staticmethod
    def _decode_table(body: bytes, depth: int, width: int, isz_field: int) -> np.ndarray:
        """Decompressed (depth, width) table from a payload body; sparse
        bodies (negative isz_field) decode to (idx, vals) scattered into a
        narrow dense array — callers widen or accumulate as needed."""
        import zlib

        raw = zlib.decompress(body)
        isz = abs(isz_field)
        dtype = {2: np.int16, 4: np.int32, 8: np.int64}[isz]
        cells = depth * width
        if isz_field > 0:
            return np.frombuffer(raw, dtype=dtype).reshape(depth, width)
        idx_isz = 4 if cells < 2**31 else 8
        idx_dtype = np.int32 if idx_isz == 4 else np.int64
        nnz = len(raw) // (idx_isz + isz)
        idx = np.frombuffer(raw[: nnz * idx_isz], dtype=idx_dtype)
        vals = np.frombuffer(raw[nnz * idx_isz :], dtype=dtype)
        out = np.zeros(cells, dtype=dtype)
        out[idx] = vals  # indices are unique (flatnonzero), plain scatter
        return out.reshape(depth, width)

    @classmethod
    def _from_payload(cls, payload: bytes) -> "CountMinSketch":
        hsz = struct.calcsize("<iiiqBddqb")
        depth, width, key_width, seed, cons, delta, eps, n_up, isz_f = struct.unpack(
            "<iiiqBddqb", payload[:hsz]
        )
        table = cls._decode_table(payload[hsz:], depth, width, isz_f).astype(np.int64)
        return cls(
            delta=delta,
            epsilon=eps,
            key_width=key_width,
            seed=seed,
            conservative=bool(cons),
            depth=depth,
            width=width,
            _table=table,
            _n_updates=n_up,
        )

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, CountMinSketch)
            and self.depth == other.depth
            and self.width == other.width
            and self.key_width == other.key_width
            and self.seed == other.seed
            and self.conservative == other.conservative
            and np.array_equal(self.table, other.table)
        )
