"""Both reduction regimes of operators/sketch_build._reduce, per family.

Up to _COLLECT_MAX_TASKS tasks the per-task blobs are collected and merged
on the driver; beyond it they treeReduce.  Patching the threshold to 1
sends an 8-partition input through the tree regime (including one
intermediate reduceByKey level), so every family is checked in both
regimes without hundreds of Python tasks: the hash-based sketches must
merge to identical bytes, the order-sensitive ones (KLL, t-digest, FD)
must stay within their error bounds, and each reduction must be ONE job.
"""

from __future__ import annotations

import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from epichypersketch_jl_spark.config import HyperSketchConfig
from epichypersketch_jl_spark.operators import (
    cardinality,
    motif,
    quantiles,
    similarity,
    sketch_build,
)
from epichypersketch_jl_spark.sketches.base import from_bytes
from epichypersketch_jl_spark.sketches.bloom import BloomFilter, KmvBloom
from epichypersketch_jl_spark.sketches.cms import CountMinSketch
from epichypersketch_jl_spark.sketches.countsketch import CountSketch
from epichypersketch_jl_spark.sketches.fd import FrequentDirections
from epichypersketch_jl_spark.sketches.hll import HyperLogLog
from epichypersketch_jl_spark.sketches.kll import KLL
from epichypersketch_jl_spark.sketches.tdigest import TDigest

N_PARTS = 8
N_ROWS = 4000
CFG = HyperSketchConfig(motif_size=2, min_count=3)


# ------------------------------------------------------------ no Spark


def test_zero_sketch_merge_changes_no_bytes():
    """Every task emits its sketch, the zero sketch when it read no rows,
    so merging a zero sketch — on either side — must leave the bytes
    unchanged for every family the reduction carries."""
    rng = np.random.default_rng(11)
    ints = rng.integers(0, 5000, 3000)
    families = [
        (lambda: CountMinSketch(key_width=1, seed=3), lambda s: s.update_batch_grouped(ints)),
        (lambda: HyperLogLog(p=10, seed=3), lambda s: s.update_batch(ints)),
        (lambda: BloomFilter(n_expected=2000, seed=3), lambda s: s.update_batch(ints)),
        (lambda: KmvBloom(n_bits=4096), lambda s: s.update_batch(ints)),
        (lambda: CountSketch(width=16, depth=5), lambda s: s.update_batch(ints)),
        (lambda: KLL(k=50, seed=3), lambda s: s.update_batch(ints.astype(float))),
        (lambda: TDigest(compression=50), lambda s: s.update_batch(ints.astype(float))),
        (lambda: FrequentDirections(l=4), lambda s: s.update_batch(rng.normal(size=(200, 5)))),
    ]
    for zero, update in families:
        sk = zero()
        update(sk)
        blob = sk.to_bytes()
        name = type(sk).__name__
        assert from_bytes(blob).merge_blobs([zero().to_bytes()]).to_bytes() == blob, name
        assert zero().merge_blobs([blob]).to_bytes() == blob, name
        assert zero().merge_blobs([zero().to_bytes()]).to_bytes() == zero().to_bytes(), name


def test_cms_threaded_merge_blobs_equals_sequential_merge():
    """The CMS override (threaded from 8 blobs up) returns the same sketch
    as the base left-to-right fold of merge."""
    rng = np.random.default_rng(12)
    blobs = []
    for i in range(11):
        sk = CountMinSketch(delta=0.01, epsilon=0.001, key_width=2, seed=5)
        sk.update_batch(rng.integers(0, 300, size=(500 * (i + 1), 2)))
        blobs.append(sk.to_bytes())
    want = from_bytes(blobs[0])
    for b in blobs[1:]:
        want = want.merge(from_bytes(b))
    got = from_bytes(blobs[0]).merge_blobs(blobs[1:])
    assert got == want and got.n_updates == want.n_updates


# --------------------------------------------------------------- Spark


@pytest.fixture(scope="module")
def seqs(spark):
    """(doc_id, tokens: array<int>) over a 13-symbol alphabet, so the motif
    build takes the multiset fold and the fused scan carries partials."""
    return spark.range(0, N_ROWS, numPartitions=N_PARTS).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "transform(sequence(0, 2 + id % 6), x -> cast((x * 7 + id * 3) % 13 as int))"
        ).alias("tokens"),
    )


@pytest.fixture(scope="module")
def values(spark):
    """(k: long, v: double, tags: array<long>, emb: array<double>)."""
    return spark.range(0, N_ROWS, numPartitions=N_PARTS).select(
        (F.col("id") * 7919 % 1009).alias("k"),
        (F.col("id") * 7919 % 10007).cast("double").alias("v"),
        F.array(F.col("id") % 97, F.col("id") % 89).alias("tags"),
        F.expr("transform(sequence(1, 5), x -> sin(id * x) * (6 - x))").alias("emb"),
    )


def _reduce_runs(spark, monkeypatch, run, tree: bool):
    """Call `run()` with the collect threshold patched for `tree`; record
    every _reduce result and the number of Spark jobs each one ran."""
    sc = spark.sparkContext
    real = sketch_build._reduce
    calls = []

    def spy(df, task_fn):
        group = f"ehs-reduce-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "reduction regime test")
        try:
            out = real(df, task_fn)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        calls.append((out, len(sc.statusTracker().getJobIdsForGroup(group))))
        return out

    monkeypatch.setattr(sketch_build, "_reduce", spy)
    monkeypatch.setattr(sketch_build, "_COLLECT_MAX_TASKS", 1 if tree else 256)
    try:
        result = run()
    finally:
        monkeypatch.undo()
    return result, calls


def _both_regimes(spark, monkeypatch, run):
    """Returns [(result, calls)] for the collect then the tree regime, and
    pins what holds for every family: one job per reduction, one metrics
    row per task, partials only in the collect regime."""
    out = []
    for tree in (False, True):
        result, calls = _reduce_runs(spark, monkeypatch, run, tree)
        assert calls, "the operator did not reduce through _reduce"
        for (sk, metrics, partials), n_jobs in calls:
            assert n_jobs == 1, f"tree={tree}: {n_jobs} jobs"
            assert [m["part_id"] for m in metrics] == list(range(N_PARTS))
            assert all("sketch" not in m and "partial" not in m for m in metrics)
            assert (partials is None) == tree
        out.append((result, calls))
    return out


def _fused_cms(seqs):
    return motif._fused_summary_collect(motif._prepared(seqs, CFG, False, False), CFG)


BYTE_EXACT = {
    "motif_cms": lambda d: motif.build_motif_cms(d["seqs"], CFG)[0],
    "fused_motif_cms": lambda d: _fused_cms(d["seqs"])[0],
    # hll_distinct answers one row, not a sketch
    "hll": lambda d: cardinality.hll_distinct(d["values"], "k", p=12, seed=3).collect(),
    "bloom": lambda d: cardinality.build_bloom(d["values"], "k", n_expected=2000, seed=3),
    "kmv_bloom": lambda d: cardinality.build_kmv_bloom(d["values"], "tags", n_bits=4096),
    "cms_over_column": lambda d: cardinality.build_cms_over_column(
        d["values"], "tags", epsilon=1e-3
    ),
    "count_sketch": lambda d: sketch_build.build_sketch_distributed(
        d["values"].select("k"),
        lambda: CountSketch(width=16, depth=5),
        sketch_build.value_column_update(d["values"], "k"),
    )[0],
}


@pytest.mark.parametrize("family", sorted(BYTE_EXACT))
def test_hash_sketches_byte_identical_across_regimes(spark, seqs, values, monkeypatch, family):
    data = {"seqs": seqs, "values": values}
    (r_collect, c_collect), (r_tree, c_tree) = _both_regimes(
        spark, monkeypatch, lambda: BYTE_EXACT[family](data)
    )
    sk_collect, sk_tree = c_collect[-1][0][0], c_tree[-1][0][0]
    assert sk_collect.to_bytes() == sk_tree.to_bytes()
    if family == "hll":
        assert r_collect == r_tree
        assert r_collect[0].approx_distinct == round(sk_collect.estimate())
    else:
        assert r_collect.to_bytes() == sk_collect.to_bytes()


def test_fused_partials_only_in_collect_regime(spark, seqs, monkeypatch):
    (r_collect, _), (r_tree, _) = _both_regimes(spark, monkeypatch, lambda: _fused_cms(seqs))
    assert r_collect[1] is not None and len(r_collect[1]) == N_PARTS
    assert r_tree[1] is None


def test_fused_motif_counts_equal_unfused_in_tree_regime(spark, seqs, monkeypatch):
    def rows(fused, tree):
        out, _ = _reduce_runs(
            spark, monkeypatch, lambda: motif.motif_counts(seqs, CFG, fused=fused).collect(), tree
        )
        return out

    tree_fused = rows(True, True)
    assert tree_fused == rows(False, True)
    assert tree_fused == rows(True, False)
    assert len(tree_fused) > 0


def _rank_errors(sk, exact_sorted, qs):
    est = sk.quantile(np.array(qs))
    return [abs(np.searchsorted(exact_sorted, e) / len(exact_sorted) - q) for e, q in zip(est, qs)]


@pytest.mark.parametrize("family", ["kll", "tdigest"])
def test_quantile_sketches_within_bound_in_both_regimes(spark, values, monkeypatch, family):
    qs = [0.05, 0.25, 0.5, 0.75, 0.95]
    if family == "kll":
        run = lambda: quantiles.kll_quantiles(values, "v", qs, k=200, seed=3)  # noqa: E731
        tol = 0.02  # the merged-KLL rank tolerance of tests/test_sketches.py
    else:
        run = lambda: quantiles.tdigest_quantiles(values, "v", qs, compression=100)  # noqa: E731
        tol = 0.01
    exact = np.sort((np.arange(N_ROWS) * 7919 % 10007).astype(float))
    for result, calls in _both_regimes(spark, monkeypatch, run):
        sk = calls[-1][0][0]
        assert sk.n == N_ROWS
        assert max(_rank_errors(sk, exact, qs)) < tol
        assert list(result.values()) == [float(x) for x in sk.quantile(np.array(qs))]


def test_frequent_directions_within_bound_in_both_regimes(spark, values, monkeypatch):
    A = np.array([r.emb for r in values.select("emb").collect()])
    run = lambda: similarity.fd_sketch(values, "emb", l=4)  # noqa: E731
    for fd, _calls in _both_regimes(spark, monkeypatch, run):
        B = fd.B
        assert fd.n_rows == N_ROWS and np.isclose(fd.fro2, (A * A).sum())
        assert np.linalg.norm(A.T @ A - B.T @ B, 2) <= fd.cov_error_bound() + 1e-9
