"""Pure-numpy kernels for the motif pipeline: build (CMS update) and
extract (CMS query + qualifying-occurrence emission).

These are the Spark-first re-expression of the reference's CUDA kernels:
  * build    ≙ count_kernel_ordinary / count_kernel_conv + sketch update
               (src/count_gpu.jl:84-136)
  * extract  ≙ make_selection! + obtain_motifs_* fused into one pass
               (src/count_gpu.jl:161-286) — we never materialize the
               (num_combs × batch) Bool selection mask; qualifying rows are
               emitted directly from the estimate comparison.

Convolution semantics follow the reference CPU path (src/count_cpu.jl:47-53):
gap = pos_{j+1} - pos_j - filter_len, placements with gap < 0 (overlap)
rejected; start = pos_1, end = pos_k + filter_len - 1
(src/count_gpu.jl:252-257).  See SURVEY.md §2 #10 for the GPU/CPU divergence
and why the CPU semantics were adopted.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from ..config import HyperSketchConfig
from ..sketches.cms import CountMinSketch
from .combinations import (
    comb_chunk_cells,
    gather_rows,
    iter_comb_chunks,
    iter_length_groups,
)


def list_column_to_numpy(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(flat_values, absolute_offsets[n+1]) for a non-null Arrow list column."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    offsets = col.offsets.to_numpy().astype(np.int64)
    flat = col.values.to_numpy(zero_copy_only=False)
    return flat, offsets


def make_cms(cfg: HyperSketchConfig, conv: bool) -> CountMinSketch:
    """Zero CMS with the key width the mode demands (reference
    src/sketch.jl:84-88: h = k ordinary, 2k-1 convolution)."""
    return CountMinSketch(
        delta=cfg.delta,
        epsilon=cfg.epsilon,
        key_width=cfg.conv_key_width() if conv else cfg.motif_size,
        seed=cfg.seed,
        conservative=cfg.conservative,
    )




def _value_bound(
    tokens_flat: np.ndarray, positions_flat: np.ndarray | None
) -> int | None:
    """One cheap pass over the RAW token (and position) arrays yields a
    bound valid for every enumerated key cell: ordinary keys are token
    values; convolution keys interleave tokens with gaps, and every gap is
    < max(position).  Returns None (scan-per-chunk fallback in the CMS)
    when values are negative — the bound contract implies non-negativity.
    Avoids the per-chunk max/min probes that measured ~50% of the k=3
    aggregate kernel wall."""
    if tokens_flat.size == 0:
        return 0
    lo = int(tokens_flat.min())
    hi = int(tokens_flat.max())
    if positions_flat is not None and positions_flat.size:
        lo = min(lo, int(positions_flat.min()))
        hi = max(hi, int(positions_flat.max()))
    return hi if lo >= 0 else None


class _CombScratch:
    """Reusable flat gather buffer for per-chunk combination selection.

    `tm[:, combs]` allocates (rows x ncombs x k) fresh every chunk; at
    512k-cell chunks that is ~2-4 MB of mmap/munmap + page-fault traffic
    per chunk, which serializes on the kernel's mmap lock under full-box
    thread concurrency.  One buffer per (scratch, dtype) is grown once and
    reused — callers must consume the returned view before the next take()
    on the same scratch (every consumer copies via fancy-indexing/unique,
    so nothing retains it).
    """

    __slots__ = ("_buf",)

    def __init__(self) -> None:
        self._buf: np.ndarray | None = None

    def take(self, tm: np.ndarray, combs: np.ndarray) -> np.ndarray:
        rows = tm.shape[0]
        ncombs, k = combs.shape
        need = rows * ncombs * k
        buf = self._buf
        if buf is None or buf.size < need or buf.dtype != tm.dtype:
            self._buf = buf = np.empty(max(need, 1), dtype=tm.dtype)
        view = buf[:need].reshape(rows, ncombs * k)
        np.take(tm, combs.reshape(-1), axis=1, out=view)
        return view.reshape(rows, ncombs, k)


def _positions_presorted(positions_flat: np.ndarray, offsets: np.ndarray) -> bool:
    """True when every row's positions are already ascending — the layout
    the tokenizer cache writes (sources/tables.py sorts (pos, tok) structs
    at ingest and emits positions as 1..n), in which case the per-length-
    group argsort + three take_along_axis gathers are pure waste (VERDICT
    r4 item 6).  One O(n_tokens) scan per batch: position diffs may only
    be negative at row boundaries."""
    if len(positions_flat) < 2:
        return True
    bad = np.flatnonzero(np.diff(positions_flat) < 0)
    if bad.size == 0:
        return True
    # boundary indices into the diff array: last element of each row
    boundaries = offsets[1:-1] - 1
    return bool(np.isin(bad, boundaries).all())


def _conv_keys(
    tok_sel: np.ndarray,
    pos_sel: np.ndarray,
    filter_len: int,
    gap_mode: str = "cpu",
) -> tuple[np.ndarray, np.ndarray]:
    """Interleaved (filter, gap, filter, gap, ...) keys + validity mask.

    tok_sel/pos_sel: (n, C, k).  Returns keys (n, C, 2k-1), valid (n, C).

    gap_mode="cpu" (default): gap = delta_pos - filter_len, placements
    with gap < 0 (overlapping filters) rejected — the reference's CPU and
    extraction semantics (src/count_cpu.jl:47-53).  gap_mode="gpu": gap =
    delta_pos with no overlap rejection, emulating the GPU counting
    kernel's divergent behavior (src/count_gpu.jl:51-53, which ignores
    filter_len) for divergence-complete parity (VERDICT r4 item 7).
    """
    if gap_mode == "gpu":
        gaps = pos_sel[..., 1:] - pos_sel[..., :-1]
        valid = np.ones(tok_sel.shape[:2], bool)
    else:
        gaps = pos_sel[..., 1:] - pos_sel[..., :-1] - filter_len
        valid = (
            (gaps >= 0).all(axis=-1)
            if gaps.shape[-1]
            else np.ones(tok_sel.shape[:2], bool)
        )
    k = tok_sel.shape[-1]
    keys = np.empty(tok_sel.shape[:2] + (2 * k - 1,), dtype=np.result_type(tok_sel.dtype, np.int32))
    keys[..., 0::2] = tok_sel
    keys[..., 1::2] = gaps
    return keys, valid


@dataclass
class BuildStats:
    n_rows: int = 0
    n_tokens: int = 0
    n_updates: int = 0


# ------------------------------------------------- multiset counting fast path
#
# For ordinary (non-convolution) motifs the key of a position subset is the
# SORTED tuple of its token values, so the exact multiset histogram of all
# per-row k-combinations factorizes per row through the token-count vector:
# with n_t = count of token t in the row, the number of subsets whose sorted
# values equal the multiset M is prod_t C(n_t, mult_M(t)).  When the token
# alphabet is small (V = vmax+1), folding this way costs O(rows * V^k) matmul
# flops instead of the sum_rows C(L,k)*k enumerated cells of the gather/pack
# pipeline — on the bench corpus (V=32, L~54, k=3) that is ~16k flops/row vs
# ~485k gathered cells/row, a BLAS-speed fold that replaces the kernel's
# top-line costs (take/pack/bincount measured 70% of the k=3 aggregate wall).
# Every sum is a partial sum of the nonnegative integer combination total, so
# float64 matmuls are exact while sum_rows C(L,k) < 2^52 (guarded).
#
# Hard caps keep intermediates bounded: the k=3 pair-product matrix is
# processed in pair blocks of <= _MS_BLOCK_CELLS cells, and V is capped per k
# so the (C(V,2) x V) output stays tens of MB.  Above the caps, or when the
# matmul flops would not undercut the enumeration cells, callers fall back to
# the enumeration path — results are identical either way (pytest-pinned).

_MS_MAX_V = {1: 1 << 22, 2: 1024, 3: 256, 4: 64}
_MS_BLOCK_CELLS = 4 << 20  # rows x pair-block float64 cells per matmul slice
_MS_BLAS_ADVANTAGE = 8  # matmul flops are ~this much cheaper than gather cells
_MS_EXACT_CAP = 1 << 52  # float64 integer-exactness guard


def multiset_fold(
    tokens_flat: np.ndarray,
    offsets: np.ndarray,
    k: int,
    vmax: int | None,
) -> tuple[np.ndarray, np.ndarray] | None:
    """Exact (unique sorted k-motif keys, occurrence counts) for one batch
    without enumerating position subsets, or None when ineligible (large
    alphabet, k > 4, counting not cheaper, or exactness cap exceeded).

    Equivalent by construction to enumerating every per-row k-combination,
    sorting each, and folding duplicates — the identity the enumeration
    kernels compute; equality is pinned by tests/test_motif_kernels.py.
    """
    import os

    if os.environ.get("EHS_DISABLE_MSFOLD"):  # ops escape hatch / A-B timing
        return None
    if vmax is None or k not in _MS_MAX_V:
        return None
    V = int(vmax) + 1
    if V > _MS_MAX_V[k]:
        return None
    lengths = np.diff(offsets)
    n_rows = len(lengths)
    if n_rows == 0 or tokens_flat.size == 0:
        return np.empty((0, k), np.int64), np.empty(0, np.int64)
    # cost + exactness gate: enum cells vs matmul flops, total combos < 2^52.
    # Computed with exact Python ints over the (few) unique lengths —
    # _binom_vec wraps int64 for book-length rows, and a wrapped total
    # could silently pass the gate.
    from math import comb as _comb

    uls, ucnts = np.unique(lengths, return_counts=True)
    total_int = sum(int(c) * _comb(int(L), k) for L, c in zip(uls, ucnts))
    if total_int >= _MS_EXACT_CAP:
        return None
    total_combs = float(total_int)
    npairs = V * (V - 1) // 2
    if k > 1:
        flops = float(n_rows) * {
            2: float(V) ** 2,
            3: float(V) ** 3 / 2.0,
            4: float(npairs) ** 2,
        }[k]
        if flops >= _MS_BLAS_ADVANTAGE * total_combs * k:
            return None

    if k == 1:
        cnt = np.bincount(tokens_flat[offsets[0] : offsets[-1]], minlength=V)
        nz = np.flatnonzero(cnt)
        return nz[:, None].astype(np.int64), cnt[nz].astype(np.int64)

    # per-row token counts, rows chunked so count/pair matrices stay bounded
    rows_per = max(1, _MS_BLOCK_CELLS // max(npairs if k == 4 else V, 1))
    iu, ju = (np.triu_indices(V, 1) if k >= 3 else (None, None))
    acc2 = np.zeros((V, V)) if k == 2 else None  # sum_d n_a n_b
    acc_eq2 = np.zeros(V) if k == 2 else None  # sum_d C(n_a, 2)
    acc3 = np.zeros((npairs, V)) if k == 3 else None  # sum_d n_a n_b n_c (a<b)
    acc21 = np.zeros((V, V)) if k == 3 else None  # sum_d C(n_t2,2) n_t1
    acc_eq3 = np.zeros(V) if k == 3 else None  # sum_d C(n_a, 3)
    acc4 = np.zeros((npairs, npairs)) if k == 4 else None  # Σ P_ab P_cd
    acc211 = np.zeros((V, npairs)) if k == 4 else None  # Σ C(n_t,2) P_xy
    acc22 = np.zeros((V, V)) if k == 4 else None  # Σ C(n_a,2) C(n_b,2)
    acc31 = np.zeros((V, V)) if k == 4 else None  # Σ C(n_t,3) n_x
    acc_eq4 = np.zeros(V) if k == 4 else None  # Σ C(n_a, 4)
    pair_block = max(1, _MS_BLOCK_CELLS // max(rows_per, 1))
    for s in range(0, n_rows, rows_per):
        e = min(s + rows_per, n_rows)
        seg = tokens_flat[offsets[s] : offsets[e]]
        row_of = np.repeat(np.arange(e - s), lengths[s:e])
        N = (
            np.bincount(row_of * V + seg, minlength=(e - s) * V)
            .reshape(e - s, V)
            .astype(np.float64)
        )
        if k == 2:
            acc2 += N.T @ N
            acc_eq2 += (N * (N - 1.0)).sum(axis=0) * 0.5
        elif k == 3:
            F2 = N * (N - 1.0) * 0.5
            acc21 += F2.T @ N
            acc_eq3 += (F2 * (N - 2.0)).sum(axis=0) / 3.0
            for ps in range(0, npairs, pair_block):
                pe = min(ps + pair_block, npairs)
                P = N[:, iu[ps:pe]] * N[:, ju[ps:pe]]
                acc3[ps:pe] += P.T @ N
        else:
            P = N[:, iu] * N[:, ju]  # (rows, npairs); rows_per bounds it
            acc4 += P.T @ P
            F2 = N * (N - 1.0) * 0.5
            F3 = F2 * (N - 2.0) / 3.0
            acc211 += F2.T @ P
            acc22 += F2.T @ F2
            acc31 += F3.T @ N
            acc_eq4 += (F3 * (N - 3.0)).sum(axis=0) * 0.25

    keys_list: list[np.ndarray] = []
    cnt_list: list[np.ndarray] = []

    def _emit(keys: np.ndarray, cnt: np.ndarray) -> None:
        nz = np.flatnonzero(cnt)
        if nz.size:
            keys_list.append(keys[nz])
            cnt_list.append(np.rint(cnt[nz]).astype(np.int64))

    d = np.arange(V, dtype=np.int64)
    if k == 2:
        a, b = np.triu_indices(V, 1)
        _emit(np.stack([a, b], axis=1).astype(np.int64), acc2[a, b])
        _emit(np.stack([d, d], axis=1), acc_eq2)
    elif k == 3:
        # distinct a<b<c: entries of acc3[(a,b), c] with c > b
        pi, ci = np.nonzero((np.arange(V)[None, :] > ju[:, None]) & (acc3 > 0))
        if pi.size:
            keys_list.append(
                np.stack([iu[pi], ju[pi], ci], axis=1).astype(np.int64)
            )
            cnt_list.append(np.rint(acc3[pi, ci]).astype(np.int64))
        # one token doubled (t2) + one single (t1 != t2), sorted placement
        t2, t1 = np.nonzero(acc21 > 0)
        off_diag = t1 != t2
        t2, t1 = t2[off_diag], t1[off_diag]
        if t2.size:
            keys = np.where(
                (t1 < t2)[:, None],
                np.stack([t1, t2, t2], axis=1),
                np.stack([t2, t2, t1], axis=1),
            ).astype(np.int64)
            keys_list.append(keys)
            cnt_list.append(np.rint(acc21[t2, t1]).astype(np.int64))
        _emit(np.stack([d, d, d], axis=1), acc_eq3)
    else:
        # distinct a<b<c<d: acc4[(a,b),(c,d)] with b < c splits each 4-set
        # into its first and second pair exactly once
        p1, p2 = np.nonzero((ju[:, None] < iu[None, :]) & (acc4 > 0))
        if p1.size:
            keys_list.append(
                np.stack([iu[p1], ju[p1], iu[p2], ju[p2]], axis=1).astype(np.int64)
            )
            cnt_list.append(np.rint(acc4[p1, p2]).astype(np.int64))
        # doubled t + distinct singles x<y (t not in {x,y}); t2 fills 2 slots
        t, pxy = np.nonzero(acc211 > 0)
        x, y = iu[pxy], ju[pxy]
        keep = (t != x) & (t != y)
        t, x, y, pxy = t[keep], x[keep], y[keep], pxy[keep]
        if t.size:
            keys = np.where(
                (t < x)[:, None],
                np.stack([t, t, x, y], axis=1),
                np.where(
                    (t < y)[:, None],
                    np.stack([x, t, t, y], axis=1),
                    np.stack([x, y, t, t], axis=1),
                ),
            ).astype(np.int64)
            keys_list.append(keys)
            cnt_list.append(np.rint(acc211[t, pxy]).astype(np.int64))
        # two doubled tokens a<b
        a, b = np.triu_indices(V, 1)
        _emit(np.stack([a, a, b, b], axis=1).astype(np.int64), acc22[a, b])
        # tripled t + single x != t
        t3, x1 = np.nonzero(acc31 > 0)
        off_diag = t3 != x1
        t3, x1 = t3[off_diag], x1[off_diag]
        if t3.size:
            keys = np.where(
                (x1 < t3)[:, None],
                np.stack([x1, t3, t3, t3], axis=1),
                np.stack([t3, t3, t3, x1], axis=1),
            ).astype(np.int64)
            keys_list.append(keys)
            cnt_list.append(np.rint(acc31[t3, x1]).astype(np.int64))
        _emit(np.stack([d, d, d, d], axis=1), acc_eq4)

    if not keys_list:
        return np.empty((0, k), np.int64), np.empty(0, np.int64)
    return np.concatenate(keys_list), np.concatenate(cnt_list)


def build_batch(
    cms: CountMinSketch,
    tokens_flat: np.ndarray,
    offsets: np.ndarray,
    cfg: HyperSketchConfig,
    positions_flat: np.ndarray | None = None,
    stats: BuildStats | None = None,
) -> None:
    """Stream every per-row k-combination of one batch into the CMS."""
    k = cfg.motif_size
    lengths = np.diff(offsets)
    conv = positions_flat is not None
    if conv and len(positions_flat) != len(tokens_flat):
        raise ValueError(
            f"positions/tokens misaligned: {len(positions_flat)} position "
            f"values vs {len(tokens_flat)} tokens — the parallel list "
            "columns must have identical per-row lengths"
        )
    vb = _value_bound(tokens_flat, positions_flat)
    if not conv and not cms.conservative:
        # multiset-counting fold (small alphabets): identical table — the
        # enumeration path also folds duplicates before updating — but the
        # conservative sketch is granularity-sensitive, so CU keeps the
        # enumeration path's chunking verbatim.
        folded = multiset_fold(tokens_flat, offsets, k, vb)
        if folded is not None:
            fk, fc = folded
            cms.update_batch(fk, fc, vmax=vb)
            if stats is not None:
                stats.n_rows += len(lengths)
                stats.n_tokens += int(lengths.sum())
            return
    presorted = conv and _positions_presorted(positions_flat, offsets)
    sc_t, sc_p = _CombScratch(), _CombScratch()
    for rows, L in iter_length_groups(lengths, k, cfg.max_cells):
        budget = comb_chunk_cells(len(rows), cfg.max_cells, k)
        tm = gather_rows(tokens_flat, offsets, rows, L)
        if conv:
            pm = gather_rows(positions_flat, offsets, rows, L)
            if not presorted:
                order = np.argsort(pm, axis=1, kind="stable")
                tm = np.take_along_axis(tm, order, axis=1)
                pm = np.take_along_axis(pm, order, axis=1)
            for combs in iter_comb_chunks(L, k, budget):
                keys, valid = _conv_keys(
                    sc_t.take(tm, combs), sc_p.take(pm, combs), cfg.filter_len,
                    cfg.gap_mode,
                )
                cms.update_batch_grouped(keys[valid], vmax=vb)
        else:
            tm = np.sort(tm, axis=1)  # canonical ascending motifs (src/record.jl:237-242)
            for combs in iter_comb_chunks(L, k, budget):
                cms.update_batch_grouped(sc_t.take(tm, combs).reshape(-1, k), vmax=vb)
    if stats is not None:
        stats.n_rows += len(lengths)
        stats.n_tokens += int(lengths.sum())


def _fold_keys(
    flat_keys: np.ndarray,
    k: int,
    occ_weights: np.ndarray | None = None,
    contrib_weights: np.ndarray | None = None,
    vmax: int | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Group duplicate key rows: returns (unique_keys, occurrence_sum,
    contribution_sum).  Dense packed spaces use O(n) bincount; wider packed
    spaces use sort-based unique; unpackable keys use unique(axis=0)."""
    packed, bits = CountMinSketch._pack_keys_info(flat_keys, vmax)
    if packed is not None and sum(bits) <= CountMinSketch.BINCOUNT_BITS:
        space = 1 << sum(bits)
        occ_d = (
            np.bincount(packed, minlength=space)
            if occ_weights is None
            else np.bincount(packed, weights=occ_weights, minlength=space)
        )
        nz = np.flatnonzero(occ_d)
        ukeys = CountMinSketch._unpack_keys(nz, bits)
        occ = occ_d[nz].astype(np.int64)
        csum = (
            np.bincount(packed, weights=contrib_weights, minlength=space)[nz]
            if contrib_weights is not None
            else occ.astype(np.float64) * float(k)
        )
        return ukeys, occ, csum
    if packed is not None:
        _, first_idx, inv = np.unique(packed, return_index=True, return_inverse=True)
        ukeys = flat_keys[first_idx]
    else:
        ukeys, first_idx, inv = np.unique(
            flat_keys, axis=0, return_index=True, return_inverse=True
        )
    occ = (
        np.bincount(inv).astype(np.int64)
        if occ_weights is None
        else np.bincount(inv, weights=occ_weights).astype(np.int64)
    )
    csum = (
        np.bincount(inv, weights=contrib_weights)
        if contrib_weights is not None
        else occ.astype(np.float64) * float(k)
    )
    return ukeys, occ, csum


def aggregate_batch(
    cms: CountMinSketch,
    tokens_flat: np.ndarray,
    offsets: np.ndarray,
    cfg: HyperSketchConfig,
    positions_flat: np.ndarray | None = None,
    weights_flat: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Aggregated extraction for one batch: returns
    (qualifying unique keys (u, kw), n_occurrences (u,), contrib_sum (u,),
    est (u,)) — the map-side combine done inside the kernel, so qualifying
    occurrences are never materialized row-by-row.  Keys are deduplicated
    per chunk via bit-packing; the CMS is queried once per DISTINCT key."""
    k = cfg.motif_size
    lengths = np.diff(offsets)
    conv = positions_flat is not None
    if conv and len(positions_flat) != len(tokens_flat):
        raise ValueError(
            f"positions/tokens misaligned: {len(positions_flat)} position "
            f"values vs {len(tokens_flat)} tokens — the parallel list "
            "columns must have identical per-row lengths"
        )
    acc_k, acc_o, acc_c = [], [], []
    vb = _value_bound(tokens_flat, positions_flat)
    if not conv and weights_flat is None:
        # multiset-counting fold: keys arrive pre-deduplicated with exact
        # occurrence counts, so the sketch is queried once per distinct key
        # and the min_count filter applies identically (est is key-determined
        # against the same merged sketch the enumeration path queries).
        folded = multiset_fold(tokens_flat, offsets, k, vb)
        if folded is not None:
            fk, fc = folded
            if len(fk) == 0:
                return (
                    np.empty((0, k), np.int64),
                    np.empty(0, np.int64),
                    np.empty(0, np.float64),
                    np.empty(0, np.int64),
                )
            est = cms.estimate(fk, vmax=vb)
            m = est >= cfg.min_count
            return (
                fk[m],
                fc[m],
                fc[m].astype(np.float64) * float(k),
                est[m],
            )
    presorted = conv and _positions_presorted(positions_flat, offsets)

    def process(flat_keys: np.ndarray, contrib: np.ndarray | None) -> None:
        if flat_keys.shape[0] == 0:
            return
        if flat_keys.ndim != 2 or not flat_keys.flags.c_contiguous:
            flat_keys = np.ascontiguousarray(flat_keys)
        # adaptive order: on repetitive streams fold first (few unique keys
        # to estimate); on mostly-distinct streams folding is a wasted sort —
        # estimate every key, filter by min_count, fold only the survivors.
        n = flat_keys.shape[0]
        sample = flat_keys[:: max(1, n // 2048)][:2048]
        if len(sample):
            # pack-based uniqueness probe: 1-D unique instead of the
            # void-record unique(axis=0), which profiled ~1 ms per chunk
            sp = CountMinSketch._pack_keys_info(sample, vb)[0]
            s_uniq = (
                np.unique(sp).size
                if sp is not None
                else np.unique(sample, axis=0).shape[0]
            )
        else:
            s_uniq = 0
        if s_uniq >= 0.6 * max(len(sample), 1):
            est_all = cms.estimate_grouped(flat_keys, vmax=vb)
            m_all = est_all >= cfg.min_count
            if not m_all.any():
                return
            surv = flat_keys[m_all]
            surv_contrib = contrib[m_all] if contrib is not None else None
            ukeys, occ, csum = _fold_keys(surv, k, contrib_weights=surv_contrib, vmax=vb)
            m = np.ones(len(ukeys), dtype=bool)
            est = cms.estimate(ukeys, vmax=vb)
        else:
            ukeys, occ, csum = _fold_keys(flat_keys, k, contrib_weights=contrib, vmax=vb)
            est = cms.estimate(ukeys, vmax=vb)
            m = est >= cfg.min_count
        if m.any():
            acc_k.append(ukeys[m])
            acc_o.append(occ[m])
            acc_c.append(csum[m])

    sc_t, sc_p, sc_w = _CombScratch(), _CombScratch(), _CombScratch()
    for rows, L in iter_length_groups(lengths, k, cfg.max_cells):
        budget = comb_chunk_cells(len(rows), cfg.max_cells, k)
        tm = gather_rows(tokens_flat, offsets, rows, L)
        wm = gather_rows(weights_flat, offsets, rows, L) if weights_flat is not None else None
        if conv:
            pm = gather_rows(positions_flat, offsets, rows, L)
            if not presorted:
                order = np.argsort(pm, axis=1, kind="stable")
                tm = np.take_along_axis(tm, order, axis=1)
                pm = np.take_along_axis(pm, order, axis=1)
                if wm is not None:
                    wm = np.take_along_axis(wm, order, axis=1)
            for combs in iter_comb_chunks(L, k, budget):
                keys, valid = _conv_keys(
                    sc_t.take(tm, combs), sc_p.take(pm, combs), cfg.filter_len,
                    cfg.gap_mode,
                )
                contrib = (
                    sc_w.take(wm, combs).sum(axis=-1)[valid] if wm is not None else None
                )
                process(keys[valid], contrib)
        else:
            if wm is not None:
                order = np.argsort(tm, axis=1, kind="stable")
                tm = np.take_along_axis(tm, order, axis=1)
                wm = np.take_along_axis(wm, order, axis=1)
            else:
                tm = np.sort(tm, axis=1)
            for combs in iter_comb_chunks(L, k, budget):
                contrib = (
                    sc_w.take(wm, combs).sum(axis=-1).reshape(-1)
                    if wm is not None
                    else None
                )
                process(sc_t.take(tm, combs).reshape(-1, k), contrib)
    if not acc_k:
        kw = 2 * k - 1 if conv else k
        return (
            np.empty((0, kw), np.int64),
            np.empty(0, np.int64),
            np.empty(0, np.float64),
            np.empty(0, np.int64),
        )
    keys = np.concatenate(acc_k)
    occ = np.concatenate(acc_o)
    csum = np.concatenate(acc_c)
    # re-combine across chunks; estimates are key-determined, recompute once
    ukeys, uocc, ucsum = _fold_keys(
        keys, k, occ_weights=occ, contrib_weights=csum, vmax=vb
    )
    return ukeys, uocc, ucsum, cms.estimate(ukeys, vmax=vb)


@dataclass
class ExtractOut:
    """Columnar accumulator for qualifying occurrences of one batch."""

    motifs: list = field(default_factory=list)  # (m, k) int
    gaps: list = field(default_factory=list)  # (m, k-1) int   (conv only)
    starts: list = field(default_factory=list)  # (m,) int       (conv only)
    ends: list = field(default_factory=list)  # (m,) int       (conv only)
    row_idx: list = field(default_factory=list)  # (m,) local batch row index
    contribs: list = field(default_factory=list)  # (m,) float
    counts: list = field(default_factory=list)  # (m,) int64


def extract_batch(
    cms: CountMinSketch,
    tokens_flat: np.ndarray,
    offsets: np.ndarray,
    cfg: HyperSketchConfig,
    positions_flat: np.ndarray | None = None,
    weights_flat: np.ndarray | None = None,
) -> ExtractOut:
    """Re-enumerate combinations, query the merged CMS, emit rows with
    estimate >= min_count (fuses reference phases select + extract)."""
    k = cfg.motif_size
    lengths = np.diff(offsets)
    conv = positions_flat is not None
    if conv and len(positions_flat) != len(tokens_flat):
        raise ValueError(
            f"positions/tokens misaligned: {len(positions_flat)} position "
            f"values vs {len(tokens_flat)} tokens — the parallel list "
            "columns must have identical per-row lengths"
        )
    out = ExtractOut()
    vb = _value_bound(tokens_flat, positions_flat)
    presorted = conv and _positions_presorted(positions_flat, offsets)
    sc_t, sc_p, sc_w = _CombScratch(), _CombScratch(), _CombScratch()
    for rows, L in iter_length_groups(lengths, k, cfg.max_cells):
        budget = comb_chunk_cells(len(rows), cfg.max_cells, k)
        tm = gather_rows(tokens_flat, offsets, rows, L)
        wm = gather_rows(weights_flat, offsets, rows, L) if weights_flat is not None else None
        if conv:
            pm = gather_rows(positions_flat, offsets, rows, L)
            if not presorted:
                order = np.argsort(pm, axis=1, kind="stable")
                tm = np.take_along_axis(tm, order, axis=1)
                pm = np.take_along_axis(pm, order, axis=1)
                if wm is not None:
                    wm = np.take_along_axis(wm, order, axis=1)
        elif wm is not None:
            order = np.argsort(tm, axis=1, kind="stable")
            tm = np.take_along_axis(tm, order, axis=1)
            wm = np.take_along_axis(wm, order, axis=1)
        else:
            tm = np.sort(tm, axis=1)
        for combs in iter_comb_chunks(L, k, budget):
            if conv:
                tok_sel = sc_t.take(tm, combs)
                pos_sel = sc_p.take(pm, combs)
                keys, valid = _conv_keys(tok_sel, pos_sel, cfg.filter_len, cfg.gap_mode)
                # clamp invalid (overlapping) placements to key 0 so the packed
                # dedup fast path stays applicable; estimates are masked out
                # (in place: keys is freshly built by _conv_keys)
                keys[~valid] = 0
                est = cms.estimate_grouped(
                    keys.reshape(-1, keys.shape[-1]), vmax=vb
                ).reshape(keys.shape[:2])
                sel = valid & (est >= cfg.min_count)
                ri, ci = np.nonzero(sel)
                if ri.size == 0:
                    continue
                out.motifs.append(tok_sel[ri, ci])
                out.gaps.append(keys[ri, ci, 1::2])
                out.starts.append(pos_sel[ri, ci, 0])
                out.ends.append(pos_sel[ri, ci, -1] + cfg.filter_len - 1)
            else:
                keys = sc_t.take(tm, combs)
                est = cms.estimate_grouped(keys.reshape(-1, k), vmax=vb).reshape(
                    keys.shape[:2]
                )
                sel = est >= cfg.min_count
                ri, ci = np.nonzero(sel)
                if ri.size == 0:
                    continue
                out.motifs.append(keys[ri, ci])
            # shared tail: contribution, doc row, count
            if wm is not None:
                contrib = sc_w.take(wm, combs).sum(axis=-1)[ri, ci]
            else:
                contrib = np.full(ri.size, float(k))
            out.contribs.append(contrib)
            out.row_idx.append(rows[ri])
            out.counts.append(est[ri, ci])
    return out
