"""Independent recounts of every query answer, computed with plain numpy
from the generated inputs (never through the engine's kernels), and the
checks that compare the engine's results against them.

Each check returns a list of problems; an empty list means the result
passed.  Bounds:
  * motif counts: `n_occurrences` is exact; the Count-Min estimate `count`
    never undercounts and overcounts by at most eps * N (N = total
    k-combinations); every key whose true count reaches min_count is present;
  * HLL: within 5 standard errors (1.04 / sqrt(2^p)) of the true distinct
    count;
  * KLL: tie-aware normalized rank error within 1.65 / k;
  * Bloom: no false negatives;
  * MinHash-LSH: every pair is re-verified by exact word 3-shingle Jaccard.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa

from gen import DUP_EVERY


def flat_list(table: pa.Table, col: str) -> tuple[np.ndarray, np.ndarray]:
    arr = table.column(col).combine_chunks()
    off = arr.offsets.to_numpy().astype(np.int64)
    return arr.values.to_numpy()[off[0] : off[-1]], off - off[0]


def _rows_by_length(offsets: np.ndarray):
    """Yield (row indices, L) for rows grouped by length."""
    lengths = np.diff(offsets)
    for L in np.unique(lengths):
        yield np.flatnonzero(lengths == L), int(L)


def _gather(flat: np.ndarray, offsets: np.ndarray, rows: np.ndarray, L: int) -> np.ndarray:
    return flat[offsets[rows][:, None] + np.arange(L)[None, :]]


def _unique_counts(packed: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    if not packed:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.unique(np.concatenate(packed), return_counts=True)


class MotifTruth:
    """Exact key -> occurrence counts, keys packed into one int64."""

    def __init__(self, packed: np.ndarray, counts: np.ndarray, radix: list[int]):
        self.packed, self.counts, self.radix = packed, counts.astype(np.int64), radix
        self.total = int(self.counts.sum())

    def pack(self, cols: list[np.ndarray]) -> np.ndarray:
        out = np.zeros(len(cols[0]), np.int64)
        for c, r in zip(cols, self.radix):
            out = out * r + c.astype(np.int64)
        return out

    def lookup(self, packed: np.ndarray) -> np.ndarray:
        i = np.searchsorted(self.packed, packed)
        i = np.minimum(i, max(len(self.packed) - 1, 0))
        hit = (len(self.packed) > 0) & (self.packed[i] == packed)
        return np.where(hit, self.counts[i] if len(self.packed) else 0, 0)


def ordinary_truth(tokens: np.ndarray, offsets: np.ndarray, k: int) -> MotifTruth:
    """Counts of sorted k-token multisets over all per-row k-combinations."""
    V = int(tokens.max()) + 1
    if k == 1:
        cnt = np.bincount(tokens, minlength=V)
        keys = np.flatnonzero(cnt)
        return MotifTruth(keys.astype(np.int64), cnt[keys], [V])
    if V <= 256:
        return _small_alphabet_truth(tokens, offsets, k, V)
    if k != 2:
        raise ValueError("large-alphabet recount supports k <= 2")
    packed = []
    for rows, L in _rows_by_length(offsets):
        if L < 2:
            continue
        m = np.sort(_gather(tokens, offsets, rows, L), axis=1).astype(np.int64)
        i, j = np.triu_indices(L, 1)
        packed.append((m[:, i] * V + m[:, j]).ravel())
    keys, cnt = _unique_counts(packed)
    return MotifTruth(keys, cnt, [V, V])


def _small_alphabet_truth(tokens, offsets, k: int, V: int) -> MotifTruth:
    """Per-row token histograms n_t: a sorted multiset M occurs
    prod_t C(n_t, mult_M(t)) times in a row.  float64 sums stay exact far
    beyond these sizes (< 2^53)."""
    n_rows = len(offsets) - 1
    lengths = np.diff(offsets)
    iu, ju = np.triu_indices(V, 1)
    acc = {}
    for s in range(0, n_rows, 4096):
        e = min(s + 4096, n_rows)
        row = np.repeat(np.arange(e - s), lengths[s:e])
        N = np.bincount(row * V + tokens[offsets[s] : offsets[e]], minlength=(e - s) * V)
        N = N.reshape(e - s, V).astype(np.float64)
        C2 = N * (N - 1) / 2
        parts = {}
        if k == 2:
            parts["ab"] = N.T @ N
            parts["aa"] = C2.sum(axis=0)
        else:  # k == 3
            parts["abc"] = (N[:, iu] * N[:, ju]).T @ N
            parts["aab"] = C2.T @ N
            parts["aaa"] = (C2 * (N - 2) / 3).sum(axis=0)
        for name, v in parts.items():
            acc[name] = acc.get(name, 0) + v
    keys, cnts = [], []
    t = np.arange(V)
    if k == 2:
        keys += [np.stack([iu, ju], 1), np.stack([t, t], 1)]
        cnts += [acc["ab"][iu, ju], acc["aa"]]
    else:
        p, c = np.nonzero(acc["abc"])
        keep = c > ju[p]
        p, c = p[keep], c[keep]
        keys.append(np.stack([iu[p], ju[p], c], 1))
        cnts.append(acc["abc"][p, c])
        a, b = np.nonzero(acc["aab"])
        keep = a != b
        a, b = a[keep], b[keep]
        keys.append(np.where((a < b)[:, None], np.stack([a, a, b], 1), np.stack([b, a, a], 1)))
        cnts.append(acc["aab"][a, b])
        keys.append(np.stack([t, t, t], 1))
        cnts.append(acc["aaa"])
    keys = np.concatenate(keys).astype(np.int64)
    cnts = np.rint(np.concatenate(cnts)).astype(np.int64)
    nz = cnts > 0
    truth = MotifTruth(np.empty(0, np.int64), np.empty(0, np.int64), [V] * k)
    packed = truth.pack([keys[nz, i] for i in range(k)])
    order = np.argsort(packed)
    return MotifTruth(packed[order], cnts[nz][order], [V] * k)


def conv_truth(tokens, positions, offsets, filter_len: int) -> MotifTruth:
    """k=2 convolution keys (tok_i, gap, tok_j) for position-ordered pairs
    i < j with gap = pos_j - pos_i - filter_len >= 0."""
    V = int(tokens.max()) + 1
    G = int(positions.max()) + 1
    packed = []
    for rows, L in _rows_by_length(offsets):
        if L < 2:
            continue
        tm = _gather(tokens, offsets, rows, L).astype(np.int64)
        pm = _gather(positions, offsets, rows, L).astype(np.int64)
        order = np.argsort(pm, axis=1, kind="stable")
        tm, pm = np.take_along_axis(tm, order, 1), np.take_along_axis(pm, order, 1)
        i, j = np.triu_indices(L, 1)
        gap = pm[:, j] - pm[:, i] - filter_len
        ok = gap >= 0
        packed.append(((tm[:, i] * G + gap) * V + tm[:, j])[ok])
    keys, cnt = _unique_counts(packed)
    return MotifTruth(keys, cnt, [V, G, V])


def check_motif_counts(res: pa.Table, truth: MotifTruth, min_count: int, eps: float,
                       key_cols: list[str], occ_col: str, est_col: str) -> list[str]:
    """Compare a per-key result (keys, occurrences, estimate) with the
    recount."""
    problems = []
    cols = [res.column(c).to_numpy().astype(np.int64) for c in key_cols]
    packed = truth.pack(cols)
    if len(np.unique(packed)) != len(packed):
        problems.append("duplicate keys in result")
    true = truth.lookup(packed)
    occ = res.column(occ_col).to_numpy().astype(np.int64)
    est = res.column(est_col).to_numpy().astype(np.int64)
    slack = eps * truth.total
    checks = {
        "key absent from the input": true == 0,
        "occurrence count differs from recount": occ != true,
        "estimate below min_count": est < min_count,
        "estimate undercounts": est < true,
        "estimate overcounts by more than eps*N": est > true + slack,
    }
    for what, bad in checks.items():
        if bad.any():
            problems.append(f"{what}: {int(bad.sum())} keys")
    need = truth.counts >= min_count
    missing = np.setdiff1d(truth.packed[need], packed)
    if len(missing):
        problems.append(f"{len(missing)} keys with true count >= {min_count} missing")
    return problems


def check_hll(est: float, tokens: np.ndarray, p: int) -> list[str]:
    true = len(np.unique(tokens))
    tol = 5 * 1.04 / math.sqrt(1 << p) * true
    return [] if abs(est - true) <= tol else [f"HLL estimate {est} vs true {true} (tol {tol:.1f})"]


def check_kll(rows: list[tuple[str, float, float]], values: np.ndarray, groups: np.ndarray,
              quantiles: list[float], k: int) -> list[str]:
    eps = 1.65 / k
    problems = []
    seen = set()
    for g, q, est in rows:
        seen.add((g, q))
        s = np.sort(values[groups == g])
        lo = np.searchsorted(s, est, side="left") / len(s)
        hi = np.searchsorted(s, est, side="right") / len(s)
        if not (lo - eps <= q <= hi + eps):
            problems.append(f"KLL {g} q={q}: est {est} has rank [{lo:.4f}, {hi:.4f}]")
    expected = {(g, q) for g in np.unique(groups) for q in quantiles}
    if seen != expected:
        problems.append(f"KLL returned {len(seen)} (group, q) rows, expected {len(expected)}")
    return problems


def check_bloom(bloom, doc_ids: np.ndarray) -> list[str]:
    misses = int((~bloom.contains(doc_ids)).sum())
    return [f"Bloom false negatives: {misses}"] if misses else []


def _shingles(words: np.ndarray) -> set:
    return {tuple(words[i : i + 3]) for i in range(len(words) - 2)}


def check_lsh_pairs(pairs: list[tuple[str, str, int]], table: pa.Table,
                    threshold: float) -> tuple[list[str], float]:
    """(problems, planted-pair recall).  Every emitted pair must be ordered,
    unique, and carry its exact Jaccard percentage >= the threshold."""
    tokens, offsets = flat_list(table, "tokens")
    index = {d: i for i, d in enumerate(table.column("doc_id").to_pylist())}
    problems = []
    found = set()
    for a, b, pct in pairs:
        if not a < b or (a, b) in found:
            problems.append(f"pair ({a}, {b}) unordered or repeated")
            continue
        found.add((a, b))
        ia, ib = index[a], index[b]
        sa = _shingles(tokens[offsets[ia] : offsets[ia + 1]])
        sb = _shingles(tokens[offsets[ib] : offsets[ib + 1]])
        inter = len(sa & sb)
        want = math.floor(100 * inter / (len(sa) + len(sb) - inter))
        if pct != want or want < int(threshold * 100):
            problems.append(f"pair ({a}, {b}) jaccard_pct {pct}, recount {want}")
    ids = table.column("doc_id").to_pylist()
    planted = {(ids[i - 1], ids[i]) for i in range(1, len(ids), DUP_EVERY)}
    recall = len(planted & found) / len(planted) if planted else 1.0
    return problems[:20], recall
