"""Pure-numpy kernel tests: combination enumeration + build/extract vs
brute force (SURVEY.md §7 step 2)."""

from itertools import combinations
from math import comb

import numpy as np
import pyarrow as pa
import pytest

from epichypersketch_jl_spark.config import HyperSketchConfig
from epichypersketch_jl_spark.functions.combinations import (
    comb_index_matrix,
    gather_rows,
    iter_length_groups,
)
from epichypersketch_jl_spark.functions.motif_kernels import (
    build_batch,
    extract_batch,
    list_column_to_numpy,
    make_cms,
)


def _ragged(rows):
    flat = np.concatenate([np.asarray(r, dtype=np.int64) for r in rows if len(r)] or [[]])
    offsets = np.concatenate([[0], np.cumsum([len(r) for r in rows])]).astype(np.int64)
    return flat.astype(np.int64), offsets


class TestCombinations:
    def test_comb_matrix(self):
        m = comb_index_matrix(5, 3)
        assert m.shape == (comb(5, 3), 3)
        assert [tuple(r) for r in m] == list(combinations(range(5), 3))
        assert comb_index_matrix(2, 3).shape[0] == 0

    def test_length_groups_cover_all_rows_once(self):
        rng = np.random.default_rng(0)
        lengths = rng.integers(0, 12, size=200)
        seen = []
        for rows, L in iter_length_groups(lengths, 3, max_cells=500):
            assert (lengths[rows] == L).all()
            seen.extend(rows.tolist())
        expected = np.flatnonzero(lengths >= 3)
        assert sorted(seen) == sorted(expected.tolist())

    def test_chunking_respects_max_cells(self):
        # soft cap: 70 rows' worth of cells -> chunks of <= 70 rows
        lengths = np.full(1000, 10)
        for rows, L in iter_length_groups(lengths, 3, max_cells=comb(10, 3) * 3 * 70):
            assert len(rows) <= 70

    def test_chunking_min_rows_floor(self):
        from epichypersketch_jl_spark.functions.combinations import (
            HARD_MAX_CELLS,
            MIN_ROWS_PER_CHUNK,
        )

        # tiny soft cap at large C(L,k): the min-rows floor must kick in
        lengths = np.full(100, 60)
        chunks = [len(r) for r, _ in iter_length_groups(lengths, 3, max_cells=1000)]
        assert max(chunks) == MIN_ROWS_PER_CHUNK
        # but never beyond the hard ceiling: enormous C(L,k) -> 1 row
        lengths = np.full(4, 600)
        chunks = [
            (len(r), comb(600, 3) * 3 * len(r))
            for r, _ in iter_length_groups(lengths, 3, max_cells=1000)
        ]
        assert all(cells <= max(HARD_MAX_CELLS, comb(600, 3) * 3) for _, cells in chunks)
        assert all(n == 1 for n, _ in chunks)

    def test_gather(self):
        flat, off = _ragged([[1, 2], [3, 4, 5], [6, 7]])
        got = gather_rows(flat, off, np.array([0, 2]), 2)
        assert got.tolist() == [[1, 2], [6, 7]]


class TestBuildExtractOrdinary:
    def _exact(self, rows, k):
        counts = {}
        for r in rows:
            for c in combinations(sorted(r), k):
                counts[c] = counts.get(c, 0) + 1
        return counts

    def test_matches_bruteforce(self):
        rng = np.random.default_rng(1)
        rows = [
            rng.choice(np.arange(1, 60), size=rng.integers(0, 9), replace=False).tolist()
            for _ in range(300)
        ]
        cfg = HyperSketchConfig(motif_size=3, min_count=1, seed=5)
        cms = make_cms(cfg, conv=False)
        flat, off = _ragged(rows)
        build_batch(cms, flat, off, cfg)
        exact = self._exact(rows, 3)
        assert cms.n_updates == sum(exact.values())
        keys = np.array(list(exact.keys()))
        est = cms.estimate(keys)
        assert (est >= np.array(list(exact.values()))).all()
        # with 60 tokens / wide sketch, no collisions: exact parity
        assert (est == np.array(list(exact.values()))).all()

    def test_extract_rows(self):
        rows = [[1, 2, 3], [3, 2, 1], [1, 2, 9], [4, 5, 6]]
        cfg = HyperSketchConfig(motif_size=2, min_count=2, seed=5)
        cms = make_cms(cfg, conv=False)
        flat, off = _ragged(rows)
        build_batch(cms, flat, off, cfg)
        out = extract_batch(cms, flat, off, cfg)
        motifs = np.concatenate(out.motifs)
        row_idx = np.concatenate(out.row_idx)
        counts = np.concatenate(out.counts)
        got = sorted(zip(map(tuple, motifs.tolist()), row_idx.tolist(), counts.tolist()))
        # pairs with count>=2: (1,2)x3, (1,3)x2, (2,3)x2 — from docs 0,1,2
        expected = sorted(
            [((1, 2), 0, 3), ((1, 3), 0, 2), ((2, 3), 0, 2),
             ((1, 2), 1, 3), ((1, 3), 1, 2), ((2, 3), 1, 2),
             ((1, 2), 2, 3)]
        )
        assert got == expected
        # contribution defaults to k (weights of 1.0 summed; reference tests
        # use uniform 1.0 contributions, test/test_large_example_ordinary.jl:9)
        assert (np.concatenate(out.contribs) == 2.0).all()

    def test_duplicate_tokens_count_per_index_combination(self):
        # counting unit = (index-combination, doc), SURVEY.md §2
        rows = [[5, 5, 7]]
        cfg = HyperSketchConfig(motif_size=2, min_count=1, seed=5)
        cms = make_cms(cfg, conv=False)
        flat, off = _ragged(rows)
        build_batch(cms, flat, off, cfg)
        assert cms.estimate(np.array([[5, 5]]))[0] == 1
        assert cms.estimate(np.array([[5, 7]]))[0] == 2


class TestBuildExtractConv:
    def test_gap_semantics_and_overlap_rejection(self):
        # one doc: filters (1,2,3) at positions (5,15,40), filter_len=8
        # gaps: 15-5-8=2, 40-15-8=17 ; overlapping pair (pos 5,10) rejected
        toks = [[1, 2, 3], [4, 5]]
        poss = [[5, 15, 40], [5, 10]]
        cfg = HyperSketchConfig(motif_size=2, min_count=1, filter_len=8, seed=5)
        cms = make_cms(cfg, conv=True)
        tflat, off = _ragged(toks)
        pflat, _ = _ragged(poss)
        build_batch(cms, tflat, off, cfg, positions_flat=pflat)
        assert cms.estimate(np.array([[1, 2, 2]]))[0] == 1  # (f1, gap=2, f2)
        assert cms.estimate(np.array([[2, 17, 3]]))[0] == 1
        assert cms.estimate(np.array([[1, 27, 3]]))[0] == 1
        # overlapping placement in doc 1 (gap = 10-5-8 = -3) rejected
        assert cms.n_updates == 3

        out = extract_batch(cms, tflat, off, cfg, positions_flat=pflat)
        motifs = np.concatenate(out.motifs)
        gaps = np.concatenate(out.gaps)
        starts = np.concatenate(out.starts)
        ends = np.concatenate(out.ends)
        rowi = np.concatenate(out.row_idx)
        assert (rowi == 0).all()
        got = sorted(zip(map(tuple, motifs.tolist()), map(tuple, gaps.tolist()),
                         starts.tolist(), ends.tolist()))
        # end = pos_k + filter_len - 1 (src/count_gpu.jl:252-257)
        assert got == [((1, 2), (2,), 5, 22), ((1, 3), (27,), 5, 47), ((2, 3), (17,), 15, 47)]

    def test_position_sorting(self):
        # storage order scrambled; keys must follow position order
        cfg = HyperSketchConfig(motif_size=2, min_count=1, filter_len=0, seed=5)
        cms = make_cms(cfg, conv=True)
        tflat, off = _ragged([[9, 4]])
        pflat, _ = _ragged([[20, 10]])
        build_batch(cms, tflat, off, cfg, positions_flat=pflat)
        assert cms.estimate(np.array([[4, 10, 9]]))[0] == 1  # pos-ordered: 4 then 9


class TestArrowBridge:
    def test_list_column_roundtrip(self):
        arr = pa.array([[1, 2], [], [3, 4, 5]], type=pa.list_(pa.int32()))
        flat, off = list_column_to_numpy(arr)
        assert off.tolist() == [0, 2, 2, 5]
        assert flat.tolist() == [1, 2, 3, 4, 5]

    def test_sliced_list_column(self):
        arr = pa.array([[1, 2], [3], [4, 5, 6]], type=pa.list_(pa.int32())).slice(1, 2)
        flat, off = list_column_to_numpy(arr)
        got = [flat[off[i]: off[i + 1]].tolist() for i in range(len(off) - 1)]
        assert got == [[3], [4, 5, 6]]


class TestCombChunking:
    """ADVICE fix: bounded combination enumeration for pathological lengths."""

    def test_matrix_ceiling_raises(self):
        from epichypersketch_jl_spark.errors import InputError
        from epichypersketch_jl_spark.functions.combinations import comb_index_matrix

        with pytest.raises(InputError, match="ceiling"):
            comb_index_matrix(1000, 3)  # ~5e8 cells

    def test_chunks_cover_exactly_once(self):
        from math import comb

        from epichypersketch_jl_spark.functions.combinations import (
            comb_index_matrix,
            iter_comb_chunks,
        )

        # C(20,3) = 1140 > the 1024-combination chunk floor, so a tiny
        # max_cells genuinely splits the space (guards the slice boundaries)
        full = comb_index_matrix(20, 3)
        chunks = list(iter_comb_chunks(20, 3, max_cells=90))
        assert len(chunks) > 1, "must exercise the multi-chunk path"
        got = np.concatenate(chunks)
        assert np.array_equal(got, full)
        assert all(c.shape[0] <= 1024 for c in chunks)
        assert comb(20, 3) == got.shape[0]

    def test_streaming_chunks_above_ceiling(self):
        """Above the materialization ceiling the itertools path must still
        cover the space exactly once (compare a prefix + total count)."""
        from itertools import combinations, islice
        from math import comb

        from epichypersketch_jl_spark.functions.combinations import iter_comb_chunks

        L, k = 500, 3  # C(500,3)*3 ~ 6.2e7 cells < ceiling... use 700
        L = 700  # C(700,3)*3 = 1.7e8 cells > 64M ceiling
        it = iter_comb_chunks(L, k, max_cells=3 * 200_000)
        first = next(it)
        expect = np.array(list(islice(combinations(range(L), k), len(first))))
        assert np.array_equal(first, expect)
        total = len(first) + sum(len(c) for c in it)
        assert total == comb(L, k)

    def test_kernel_results_invariant_under_chunking(self):
        """Build + aggregate over a long sequence must produce identical
        counts whether the combination space is enumerated in one shot or
        in bounded slices."""
        from epichypersketch_jl_spark.config import HyperSketchConfig
        from epichypersketch_jl_spark.functions.motif_kernels import (
            aggregate_batch,
            build_batch,
            make_cms,
        )

        rng = np.random.default_rng(0)
        toks = rng.integers(1, 8, size=60).astype(np.int32)
        offsets = np.array([0, 60], dtype=np.int64)

        outs = []
        for max_cells in (1000, 10_000_000):  # C(60,3)*3 ~ 103k cells
            cfg = HyperSketchConfig(motif_size=3, min_count=1, seed=1, max_cells=max_cells)
            cms = make_cms(cfg, conv=False)
            build_batch(cms, toks, offsets, cfg)
            keys, occ, csum, est = aggregate_batch(cms, toks, offsets, cfg)
            order = np.lexsort(keys.T[::-1])
            outs.append((cms.n_updates, keys[order], occ[order], est[order]))
        assert outs[0][0] == outs[1][0]
        assert np.array_equal(outs[0][1], outs[1][1])
        assert np.array_equal(outs[0][2], outs[1][2])
        assert np.array_equal(outs[0][3], outs[1][3])

    def test_conv_kernel_invariant_under_chunking(self):
        from epichypersketch_jl_spark.config import HyperSketchConfig
        from epichypersketch_jl_spark.functions.motif_kernels import (
            build_batch,
            extract_batch,
            make_cms,
        )

        rng = np.random.default_rng(3)
        toks = rng.integers(1, 6, size=40).astype(np.int32)
        pos = np.arange(1, 41, dtype=np.int32)
        offsets = np.array([0, 40], dtype=np.int64)
        res = []
        for max_cells in (1000, 10_000_000):
            cfg = HyperSketchConfig(
                motif_size=2, min_count=2, filter_len=1, seed=1, max_cells=max_cells
            )
            cms = make_cms(cfg, conv=True)
            build_batch(cms, toks, offsets, cfg, positions_flat=pos)
            out = extract_batch(cms, toks, offsets, cfg, positions_flat=pos)
            rows = sorted(
                zip(
                    map(tuple, np.concatenate(out.motifs)),
                    np.concatenate(out.gaps)[:, 0],
                    np.concatenate(out.starts),
                    np.concatenate(out.counts),
                )
            )
            res.append((cms.n_updates, rows))
        assert res[0] == res[1]


class TestPresortedPositions:
    """VERDICT r4 item 6: the kernels skip the per-length-group argsort when
    every row's positions are already ascending (the tokenizer-cache
    layout); scrambled inputs must still take the sort path and produce the
    identical sketch/aggregation."""

    def test_detector(self):
        import numpy as np

        from epichypersketch_jl_spark.functions.motif_kernels import (
            _positions_presorted,
        )

        offs = np.array([0, 3, 5])
        assert _positions_presorted(np.array([1, 2, 3, 1, 2]), offs)
        assert _positions_presorted(np.array([5, 7, 9, 1, 2]), offs)  # cross-row drop ok
        assert not _positions_presorted(np.array([1, 3, 2, 1, 2]), offs)
        assert _positions_presorted(np.array([4]), np.array([0, 1]))
        assert _positions_presorted(np.array([], dtype=np.int64), np.array([0, 0]))

    def test_sorted_and_scrambled_agree(self):
        import numpy as np

        from epichypersketch_jl_spark.config import HyperSketchConfig
        from epichypersketch_jl_spark.functions.motif_kernels import (
            aggregate_batch,
            build_batch,
            make_cms,
        )

        rng = np.random.default_rng(7)
        cfg = HyperSketchConfig(motif_size=2, min_count=1, filter_len=1, seed=3)
        rows = []
        for _ in range(40):
            L = rng.integers(4, 9)
            toks = rng.integers(1, 6, size=L).astype(np.int32)
            pos = np.sort(rng.choice(np.arange(1, 30), size=L, replace=False)).astype(np.int32)
            rows.append((toks, pos))

        def flat(perm_rows):
            t = np.concatenate([r[0] for r in perm_rows])
            p = np.concatenate([r[1] for r in perm_rows])
            off = np.concatenate(([0], np.cumsum([len(r[0]) for r in perm_rows])))
            return t, p, off

        scrambled = []
        for toks, pos in rows:
            perm = rng.permutation(len(toks))
            scrambled.append((toks[perm], pos[perm]))

        outs = []
        for data in (rows, scrambled):
            t, p, off = flat(data)
            cms = make_cms(cfg, conv=True)
            build_batch(cms, t, off, cfg, positions_flat=p)
            keys, occ, csum, est = aggregate_batch(cms, t, off, cfg, positions_flat=p)
            order = np.lexsort(keys.T[::-1])
            outs.append((cms.to_bytes(), keys[order], occ[order], est[order]))
        assert outs[0][0] == outs[1][0]  # identical merged sketch bytes
        assert (outs[0][1] == outs[1][1]).all()
        assert (outs[0][2] == outs[1][2]).all()
        assert (outs[0][3] == outs[1][3]).all()


class TestMultisetFold:
    """The small-alphabet counting fold (multiset_fold) must be cell-exact
    against brute-force enumeration and against the enumeration kernels."""

    def test_matches_bruteforce(self):
        from itertools import combinations
        from collections import Counter

        from epichypersketch_jl_spark.functions.motif_kernels import multiset_fold

        import epichypersketch_jl_spark.functions.motif_kernels as mk

        rng = np.random.default_rng(11)
        for trial in range(30):
            k = int(rng.integers(1, 5))
            V = int(rng.integers(2, 12))
            n_rows = int(rng.integers(0, 18))
            lens = rng.integers(0, 14, size=n_rows)
            offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
            flat = rng.integers(0, V, size=int(lens.sum())).astype(np.int32)
            vmax = int(flat.max()) if len(flat) else 0
            res = multiset_fold(flat, offsets, k, vmax)
            if res is None:
                # cost gate rejected (tiny batch, k=4): force-engage so the
                # arithmetic itself is still exercised
                adv, mk._MS_BLAS_ADVANTAGE = mk._MS_BLAS_ADVANTAGE, float("inf")
                try:
                    res = multiset_fold(flat, offsets, k, vmax)
                finally:
                    mk._MS_BLAS_ADVANTAGE = adv
            keys, cnt = res
            ref = Counter()
            for i in range(n_rows):
                toks = sorted(flat[offsets[i] : offsets[i + 1]])
                for c in combinations(toks, k):
                    ref[c] += 1
            got = {tuple(kk): int(cc) for kk, cc in zip(keys, cnt)}
            assert got == dict(ref), (trial, k, V)

    def test_k1_respects_sliced_offsets_window(self):
        """A sliced Arrow list column keeps absolute offsets (offsets[0] > 0)
        and values outside the window in its buffer; the k=1 fold must count
        only the rows in the slice."""
        from collections import Counter

        from epichypersketch_jl_spark.functions.motif_kernels import multiset_fold

        arr = pa.array([[7, 7], [1, 2], [2, 3, 3], [5, 6]], type=pa.list_(pa.int32()))
        flat, off = list_column_to_numpy(arr.slice(1, 2))
        assert off[0] > 0 and off[-1] < len(flat)
        keys, cnt = multiset_fold(flat, off, 1, int(flat.max()))
        got = {int(kk[0]): int(cc) for kk, cc in zip(keys, cnt)}
        assert got == dict(Counter([1, 2, 2, 3, 3]))

    def test_kernel_paths_identical(self, monkeypatch):
        """build_batch/aggregate_batch produce byte-identical sketches and
        aggregates with the counting path on and off (EHS_DISABLE_MSFOLD)."""
        import os

        from epichypersketch_jl_spark.config import HyperSketchConfig
        from epichypersketch_jl_spark.functions.motif_kernels import (
            aggregate_batch,
            build_batch,
            make_cms,
        )

        rng = np.random.default_rng(5)
        lens = rng.integers(0, 40, size=200)
        offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
        flat = rng.integers(1, 20, size=int(lens.sum())).astype(np.int32)
        for k in (1, 2, 3, 4):
            cfg = HyperSketchConfig(motif_size=k, min_count=2, seed=42)
            outs = []
            for disable in ("", "1"):
                if disable:
                    monkeypatch.setenv("EHS_DISABLE_MSFOLD", disable)
                else:
                    monkeypatch.delenv("EHS_DISABLE_MSFOLD", raising=False)
                cms = make_cms(cfg, conv=False)
                build_batch(cms, flat, offsets, cfg)
                keys, occ, csum, est = aggregate_batch(cms, flat, offsets, cfg)
                order = np.lexsort(keys.T[::-1])
                outs.append(
                    (cms.to_bytes(), keys[order], occ[order], csum[order], est[order])
                )
            a, b = outs
            assert a[0] == b[0], f"k={k}: sketch bytes differ"
            for i in range(1, 5):
                assert np.array_equal(a[i], b[i]), f"k={k}: aggregate field {i} differs"

    def test_conservative_build_keeps_enumeration(self):
        """CU is fold-granularity-sensitive; the counting path must not
        engage for conservative sketches (table equality with the
        enumeration path is the invariant the CU oracles pin)."""
        from epichypersketch_jl_spark.config import HyperSketchConfig
        from epichypersketch_jl_spark.functions.motif_kernels import (
            build_batch,
            make_cms,
        )

        rng = np.random.default_rng(9)
        lens = rng.integers(2, 20, size=100)
        offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
        flat = rng.integers(1, 8, size=int(lens.sum())).astype(np.int32)
        cfg = HyperSketchConfig(motif_size=2, min_count=1, seed=42, conservative=True)
        import os

        cms_a = make_cms(cfg, conv=False)
        build_batch(cms_a, flat, offsets, cfg)
        os.environ["EHS_DISABLE_MSFOLD"] = "1"
        try:
            cms_b = make_cms(cfg, conv=False)
            build_batch(cms_b, flat, offsets, cfg)
        finally:
            del os.environ["EHS_DISABLE_MSFOLD"]
        assert cms_a.to_bytes() == cms_b.to_bytes()
