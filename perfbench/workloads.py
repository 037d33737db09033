"""The benchmark's workloads: what each generates, which public operators
its query set calls, and how each answer is checked.

Sizes are fixed (not derived from the machine) so a seed names the same
bytes everywhere.  They were chosen on a 4-core box, where one warm pass
takes 1.5-4 s and every Python task costs about 80 ms of PySpark overhead
whatever it does, so the passes mostly measure per-query fixed costs.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pyarrow as pa

import oracle

QUANTILES = [0.1, 0.5, 0.9]
KLL_K = 200
HLL_P = 14
LSH = dict(n=3, num_perm=64, threshold=0.5)


@dataclass
class Query:
    name: str
    family: str  # motif | conv | hll | kll | bloom | lsh
    call: Callable[["Context"], Any]  # one call into the engine's public API
    lazy: bool  # result is a DataFrame that still needs an action
    cfg: Any = None  # HyperSketchConfig for the motif families


@dataclass
class Workload:
    name: str
    why: str
    spec: dict
    queries: list[Query]


@dataclass
class Context:
    """What a query needs: the session's DataFrame over the generated input,
    plus lazily loaded inputs and recounts for the checks."""

    spark: Any
    df: Any
    data_dir: str
    meta: dict
    _table: pa.Table | None = None
    _truth: dict = field(default_factory=dict)

    @property
    def table(self) -> pa.Table:
        if self._table is None:
            import pyarrow.parquet as pq

            self._table = pq.read_table(self.data_dir)
        return self._table

    def truth(self, key, fn):
        if key not in self._truth:
            self._truth[key] = fn()
        return self._truth[key]


def _cfg(**kw):
    from epichypersketch_jl_spark.config import HyperSketchConfig

    return HyperSketchConfig(**kw)


def _motif_counts(cfg, drop_positions=False):
    def call(ctx: Context):
        from epichypersketch_jl_spark.operators.motif import motif_counts

        df = ctx.df.drop("positions") if drop_positions else ctx.df
        return motif_counts(df, cfg)

    return call


def _enriched(cfg):
    def call(ctx: Context):
        from epichypersketch_jl_spark.operators.motif import enriched_configurations

        return enriched_configurations(ctx.df, cfg)

    return call


def _hll(ctx: Context):
    from epichypersketch_jl_spark.operators.cardinality import hll_distinct

    return hll_distinct(ctx.df, "tokens", p=HLL_P)


def _kll(ctx: Context):
    from epichypersketch_jl_spark.operators.quantiles import kll_quantiles_grouped

    return kll_quantiles_grouped(ctx.df, "n_tok", "source", QUANTILES, k=KLL_K)


def _bloom(ctx: Context):
    from epichypersketch_jl_spark.operators.cardinality import build_bloom

    return build_bloom(ctx.df, "doc_id", n_expected=ctx.meta["rows"], fpp=0.01)


def _lsh(ctx: Context):
    from epichypersketch_jl_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(ctx.df, **LSH)


def _token_spec(stream, rows, files, n_tok, alphabet, positions=False):
    spec = dict(kind="tokens", stream=stream, rows=rows, files=files, n_tok=n_tok,
                alphabet=alphabet, zipf_s=1.1)
    if positions:
        spec["positions"] = True
    return spec


def workloads() -> dict[str, Workload]:
    conv_cfg = _cfg(motif_size=2, filter_len=1, epsilon=1e-5, min_count=20)
    wls = [
        Workload(
            "fold-small-alphabet",
            "100k seqs, 64-symbol Zipf, 8 splits: motifs k1-k3 take multiset_fold and the "
            "fused single scan; HLL, grouped KLL and Bloom take the per-task blob reductions",
            _token_spec(1, 100_000, 8, [16, 96], 64),
            [
                Query(f"motif_k{k}", "motif", _motif_counts(_cfg(motif_size=k)), True,
                      _cfg(motif_size=k))
                for k in (1, 2, 3)
            ]
            + [
                Query("hll_tokens", "hll", _hll, False),
                Query("kll_by_source", "kll", _kll, True),
                Query("bloom_doc_id", "bloom", _bloom, False),
            ],
        ),
        Workload(
            "enum-large-alphabet",
            "10k seqs with positions, 20k-symbol Zipf: no fold, so enumeration kernels, "
            "the wide CMS broadcast, the groupBy exchange and Arrow emission do the work",
            _token_spec(2, 10_000, 8, [8, 40], 20_000, positions=True),
            [
                Query("conv_k2_occurrences", "conv", _enriched(conv_cfg), True, conv_cfg),
                Query("motif_k2_enum", "motif",
                      _motif_counts(_cfg(motif_size=2, min_count=20), drop_positions=True),
                      True, _cfg(motif_size=2, min_count=20)),
            ],
        ),
        Workload(
            "neardup-lsh",
            "80k text docs with 1% planted near-duplicates, 8 splits: the only workload "
            "that runs operators.dedup, its signatures and bucket pair join",
            dict(kind="text", stream=4, rows=80_000, files=8, vocab=30_000, n_words=[15, 44]),
            [Query("minhash_lsh", "lsh", _lsh, True)],
        ),
    ]
    return {w.name: w for w in wls}


# ------------------------------------------------------------------ checks


def _motif_truth(ctx: Context, cfg, conv: bool):
    def compute():
        toks, off = oracle.flat_list(ctx.table, "tokens")
        if conv:
            pos, _ = oracle.flat_list(ctx.table, "positions")
            return oracle.conv_truth(toks, pos, off, cfg.filter_len)
        return oracle.ordinary_truth(toks, off, cfg.motif_size)

    return ctx.truth(("motif", cfg.motif_size, conv), compute)


def materialize(q: Query, res):
    """Turn a query's result into plain values a check can read."""
    if q.family == "motif":
        return res.toArrow()
    if q.family == "conv":
        from pyspark.sql import functions as F

        return (
            res.groupBy("m1", "d12", "m2")
            .agg(F.count("*").alias("occ"), F.min("count").alias("est"),
                 F.max("count").alias("est_max"))
            .toArrow()
        )
    if q.family in ("hll", "kll", "lsh"):
        return [tuple(r) for r in res.collect()]
    return res  # bloom: the filter object itself


def check(q: Query, ctx: Context, value) -> tuple[list[str], dict]:
    """(problems, facts) for one materialized result; facts feed the
    per-layer metrics (emitted rows, LSH recall)."""
    t = ctx.table
    if q.family in ("motif", "conv"):
        conv = q.family == "conv"
        truth = _motif_truth(ctx, q.cfg, conv)
        k = q.cfg.motif_size
        keys = ["m1", "d12", "m2"] if conv else [f"m{i + 1}" for i in range(k)]
        problems = oracle.check_motif_counts(
            value, truth, q.cfg.min_count, q.cfg.epsilon, keys,
            "occ" if conv else "n_occurrences", "est" if conv else "count",
        )
        if conv:
            if (value.column("est").to_numpy() != value.column("est_max").to_numpy()).any():
                problems.append("one key carries different estimates")
            emitted = int(np.sum(value.column("occ").to_numpy()))
        else:
            emitted = value.num_rows
        return problems, {"emitted_rows": emitted}
    if q.family == "hll":
        toks, _ = oracle.flat_list(t, "tokens")
        return oracle.check_hll(value[0][0], toks, HLL_P), {}
    if q.family == "kll":
        vals = t.column("n_tok").to_numpy()
        groups = np.asarray(t.column("source").to_pylist(), dtype=object)
        return oracle.check_kll(value, vals, groups, QUANTILES, KLL_K), {}
    if q.family == "bloom":
        ids = ctx.truth("doc_ids", lambda: np.asarray(t.column("doc_id").to_pylist(), dtype=object))
        return oracle.check_bloom(value, ids), {}
    problems, recall = oracle.check_lsh_pairs(value, t, LSH["threshold"])
    return problems, {"verified_pairs": len(value), "planted_recall": recall}
