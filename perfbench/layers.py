"""Per-layer metrics for a traced run (`--trace 1`).

Layers are the engine's modules.  Numbers come from three places, none of
which changes the engine:
  * spans around the queries' calls and actions in the traced passes, each
    joined with the Spark jobs, stages, tasks and SQL nodes it launched;
  * traced replays of single public operators on the workload's input
    (a noop scan, `build_motif_cms`, `minhash_signatures`);
  * driver-side replays of the public kernels and sketches on the first
    REPLAY_ROWS rows of the workload's own Arrow batches; Count-Min update
    and estimate time is attributed by timing wrappers installed on the
    sketch class for the duration of the replay only.

A metric whose layer the workload does not exercise reads 0.  Every name
below is listed in BENCHMARK.json's `per_layer`.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from math import comb

import numpy as np

import spans as sp

REPLAY_ROWS = 16_384
ARROW_BATCH_ROWS = 4096
ALL_QUERIES = [
    "motif_k1", "motif_k2", "motif_k3", "hll_tokens", "kll_by_source", "bloom_doc_id",
    "conv_k2_occurrences", "motif_k2_enum", "minhash_lsh",
]

#: (name, unit) of every per-layer metric, in report order
PER_LAYER = [
    ("tables.scan_s", "s"), ("tables.input_rows", "count"), ("tables.input_bytes", "bytes"),
    ("motif_kernels.multiset_fold_s", "s"), ("motif_kernels.fold_hit_ratio", "ratio"),
    ("motif_kernels.build_batch_s", "s"), ("motif_kernels.aggregate_batch_s", "s"),
    ("motif_kernels.extract_batch_s", "s"), ("motif_kernels.combos", "count"),
    ("cms.update_s", "s"), ("cms.estimate_s", "s"), ("cms.blob_bytes", "bytes"),
    ("cms.serialize_s", "s"), ("cms.merge_s", "s"),
    ("hll.merge_s", "s"), ("kll.merge_s", "s"), ("bloom.merge_s", "s"),
    ("sketch_build.tasks", "count"), ("sketch_build.task_kernel_s", "s"),
    ("sketch_build.result_bytes", "bytes"), ("sketch_build.driver_s", "s"),
    ("motif.call_s", "s"), ("motif.action_s", "s"), ("motif.scan_passes", "ratio"),
    ("motif.emitted_rows", "count"), ("motif.shuffle_bytes", "bytes"),
    ("cardinality.hll_s", "s"), ("cardinality.hll_driver_s", "s"),
    ("cardinality.bloom_s", "s"), ("cardinality.bloom_driver_s", "s"),
    ("quantiles.kll_grouped_s", "s"), ("quantiles.kll_grouped_driver_s", "s"),
    ("quantiles.exchange_partitions", "count"),
    ("dedup.signature_s", "s"), ("dedup.pair_join_s", "s"), ("dedup.candidate_pairs", "count"),
    ("dedup.verify_ratio", "ratio"), ("dedup.task_skew", "ratio"),
    ("dedup.planted_recall", "ratio"),
    ("stage.run_s", "s"), ("stage.cpu_s", "s"), ("stage.wait_s", "s"), ("stage.gc_s", "s"),
    ("stage.tasks", "count"), ("stage.shuffle_write_bytes", "bytes"),
    ("stage.shuffle_read_bytes", "bytes"), ("stage.peak_exec_mem_bytes", "bytes"),
    ("setup.generate_s", "s"), ("setup.session_s", "s"), ("setup.cold_pass_s", "s"),
    ("trace.overhead_frac", "ratio"), ("host.ext_cpu_frac", "ratio"),
] + [(f"query_s.{q}", "s") for q in ALL_QUERIES]

#: columns each query family reads
FAMILY_COLUMNS = {
    "motif": ["doc_id", "tokens"], "conv": ["doc_id", "tokens", "positions"],
    "hll": ["tokens"], "kll": ["n_tok", "source"], "bloom": ["doc_id"], "lsh": ["doc_id", "text"],
}


def _median(xs, default=0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _median_seconds(fn, reps: int = 3) -> float:
    ts = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t)
    return statistics.median(ts)


def _motif_queries(wl):
    return [q for q in wl.queries if q.family in ("motif", "conv")]


def _query_frame(ctx, q):
    return ctx.df.drop("positions") if q.family == "motif" else ctx.df


# ----------------------------------------------------------------- replays


@contextmanager
def _timed_methods(cls, groups: dict[str, list[str]], acc: dict[str, float]):
    """Accumulate wall time of the outermost call of each method group."""
    saved = {}
    depth = [0]

    def wrap(orig, key):
        def timed(self, *a, **kw):
            if depth[0]:
                return orig(self, *a, **kw)
            depth[0] += 1
            t = time.perf_counter()
            try:
                return orig(self, *a, **kw)
            finally:
                acc[key] += time.perf_counter() - t
                depth[0] -= 1

        return timed

    for key, names in groups.items():
        acc.setdefault(key, 0.0)
        for name in names:
            saved[name] = cls.__dict__[name]
            setattr(cls, name, wrap(saved[name], key))
    try:
        yield acc
    finally:
        for name, orig in saved.items():
            setattr(cls, name, orig)


def kernel_replay(wl, sample) -> dict:
    """Replay the motif kernels of each motif query on the sample batches."""
    from epichypersketch_jl_spark.functions import motif_kernels as mk
    from epichypersketch_jl_spark.sketches.cms import CountMinSketch

    out = {k: 0.0 for k in ("multiset_fold_s", "build_batch_s", "aggregate_batch_s",
                            "extract_batch_s")}
    offered = folded = 0
    cms_acc: dict[str, float] = {}
    first_cms = None
    batches = sample.to_batches(max_chunksize=ARROW_BATCH_ROWS)
    with _timed_methods(CountMinSketch, {"update_s": ["update_batch", "update_batch_grouped"],
                                         "estimate_s": ["estimate", "estimate_grouped"]}, cms_acc):
        for q in _motif_queries(wl):
            conv, cfg = q.family == "conv", q.cfg
            arrays = []
            for b in batches:
                tok, off = mk.list_column_to_numpy(b.column("tokens"))
                pos = mk.list_column_to_numpy(b.column("positions"))[0] if conv else None
                arrays.append((tok, off, pos))
            cms = mk.make_cms(cfg, conv)
            for tok, off, pos in arrays:
                if not conv:
                    t = time.perf_counter()
                    res = mk.multiset_fold(tok, off, cfg.motif_size, int(tok.max()))
                    out["multiset_fold_s"] += time.perf_counter() - t
                    offered += 1
                    folded += res is not None
                t = time.perf_counter()
                mk.build_batch(cms, tok, off, cfg, positions_flat=pos)
                out["build_batch_s"] += time.perf_counter() - t
            for tok, off, pos in arrays:
                t = time.perf_counter()
                if conv:
                    mk.extract_batch(cms, tok, off, cfg, positions_flat=pos)
                    out["extract_batch_s"] += time.perf_counter() - t
                else:
                    mk.aggregate_batch(cms, tok, off, cfg)
                    out["aggregate_batch_s"] += time.perf_counter() - t
            if first_cms is None:
                first_cms = cms
    out["fold_hit_ratio"] = folded / offered if offered else 0.0
    out.update(cms_acc)
    out["first_cms"] = first_cms
    return out


def _fan_in_seconds(sketch, tasks: int) -> float:
    """Decode and merge `tasks` copies of one task's blob, as the driver
    merges one blob per task."""
    from epichypersketch_jl_spark.sketches.base import from_bytes

    blob = sketch.to_bytes()

    def merge():
        acc = from_bytes(blob)
        for _ in range(tasks - 1):
            acc = acc.merge(from_bytes(blob))

    return _median_seconds(merge, 1)


def sketch_replay(wl, ctx, sample, cms) -> dict:
    import epichypersketch_jl_spark as ehs
    from epichypersketch_jl_spark.functions.motif_kernels import list_column_to_numpy
    from epichypersketch_jl_spark.sketches.base import from_bytes

    tasks = ctx.meta["files"]
    out = {}
    if cms is not None:
        blob = cms.to_bytes()
        out["cms.blob_bytes"] = len(blob)
        out["cms.serialize_s"] = _median_seconds(cms.to_bytes)
        out["cms.merge_s"] = _median_seconds(
            lambda: from_bytes(blob).merge_blobs_inplace([blob] * (tasks - 1)), 1
        )
    tokens, _ = list_column_to_numpy(sample.column("tokens"))
    hll = ehs.HyperLogLog(p=14)
    hll.update_batch(tokens)
    kll = ehs.KLL(k=200)
    kll.update_batch(sample.column("n_tok").to_numpy().astype(np.float64))
    bloom = ehs.BloomFilter(n_expected=ctx.meta["rows"], fpp=0.01)
    bloom.update_batch(np.asarray(sample.column("doc_id").to_pylist(), dtype=object))
    for name, sk in (("hll", hll), ("kll", kll), ("bloom", bloom)):
        out[f"{name}.merge_s"] = _fan_in_seconds(sk, tasks)
    return out


def replay(bench, status) -> dict:
    """Traced single-operator replays plus the driver-side kernel and sketch
    replays; returns raw numbers for `metrics`."""
    wl, ctx, tr = bench.wl, bench.ctx, bench.tracer
    tr.enabled = True
    out: dict = {}
    cols = sorted({c for q in wl.queries for c in FAMILY_COLUMNS[q.family]})
    scans = []
    for _ in range(3):
        with tr.span("tables:scan", group="tables:scan") as rec:
            ctx.df.select(*cols).write.format("noop").mode("overwrite").save()
        scans.append(rec["end"] - rec["start"])
    out["tables.scan_s"] = statistics.median(scans)

    mq = _motif_queries(wl)
    if mq:
        from epichypersketch_jl_spark.operators.motif import build_motif_cms

        with tr.span("sketch_build:build_motif_cms", group="sketch_build:call") as rec:
            _, task_metrics = build_motif_cms(_query_frame(ctx, mq[0]), mq[0].cfg)
        out["build_span"] = rec
        out["sketch_build.tasks"] = len(task_metrics)
        out["sketch_build.task_kernel_s"] = sum(m["wall_ms"] for m in task_metrics) / 1e3
    if any(q.family == "lsh" for q in wl.queries):
        from epichypersketch_jl_spark.operators.dedup import minhash_signatures
        from workloads import LSH

        with tr.span("dedup:signatures", group="dedup:signatures") as rec:
            minhash_signatures(ctx.df, n=LSH["n"], num_perm=LSH["num_perm"]).write.format(
                "noop").mode("overwrite").save()
        out["dedup.signature_s"] = rec["end"] - rec["start"]
    status.attach(tr.spans)
    tr.enabled = False

    sample = ctx.table.slice(0, REPLAY_ROWS)
    with tr.span("replay:kernels"):
        kern = kernel_replay(wl, sample) if mq else {}
    cms = kern.pop("first_cms", None)
    for k, v in kern.items():
        out[("cms." if k in ("update_s", "estimate_s") else "motif_kernels.") + k] = v
    with tr.span("replay:sketches"):
        out.update(sketch_replay(wl, ctx, sample, cms))
    out["motif_kernels.combos"] = sum(
        int(sum(comb(int(n), q.cfg.motif_size) for n in ctx.table.column("n_tok").to_numpy()))
        for q in mq
    )
    return out


# ----------------------------------------------------------------- metrics


def _executions(tracer, name: str) -> list[dict]:
    """Traced executions of one query: wall, phases and Spark jobs."""
    out = []
    for rec in tracer.spans:
        if rec.get("kind") != "query" or rec["name"] != name:
            continue
        kids = {c["phase"]: c for c in tracer.children(rec)}
        jobs = [j for c in kids.values() for j in sp.span_jobs(c)]
        out.append({
            "wall": rec["end"] - rec["start"],
            "call": kids["call"]["end"] - kids["call"]["start"],
            "action": kids["action"]["end"] - kids["action"]["start"],
            "stages": [s for j in jobs for s in j["stages"]],
            "driver": sp.driver_seconds({**rec, "jobs": jobs}),
            "jobs": jobs,
        })
    return out


def _lsh_candidates(status, ex: dict) -> int:
    """Distinct candidate pairs of one LSH execution: the output of the
    plan's aggregate nearest the root (the candidates' `distinct`; the joins
    and the Jaccard filter above it only attach shingles and verify)."""
    nodes = sorted(status.sql_output_rows({j["id"] for j in ex["jobs"]}))
    return next((rows for _, name, rows in nodes if name == "HashAggregate"), 0)


def metrics(bench, setups, untraced, traced, replays, status) -> dict:
    wl, tr, ctx = bench.wl, bench.tracer, bench.ctx
    rows = ctx.meta["rows"]
    m: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}
    m.update({k: v for k, v in replays.items() if k in m})
    m["tables.input_rows"] = rows
    m["tables.input_bytes"] = ctx.meta["input_bytes"]

    build = replays.get("build_span")
    if build is not None:
        m["sketch_build.result_bytes"] = sum(s["result_bytes"] for s in sp.span_stages(build))
        m["sketch_build.driver_s"] = sp.driver_seconds(build)

    ex = {q.name: _executions(tr, q.name) for q in wl.queries}
    for q in _motif_queries(wl):
        e = ex[q.name]
        m["motif.call_s"] += _median(x["call"] for x in e)
        m["motif.action_s"] += _median(x["action"] for x in e)
        m["motif.scan_passes"] += _median(
            sum(s["input_records"] for s in x["stages"]) / rows for x in e
        ) / len(_motif_queries(wl))
        m["motif.shuffle_bytes"] += _median(
            sum(s["shuffle_write_bytes"] for s in x["stages"]) for x in e
        )
        m["motif.emitted_rows"] += bench.facts.get(q.name, {}).get("emitted_rows", 0)

    named = {"hll": ("cardinality.hll_s", "cardinality.hll_driver_s"),
             "bloom": ("cardinality.bloom_s", "cardinality.bloom_driver_s"),
             "kll": ("quantiles.kll_grouped_s", "quantiles.kll_grouped_driver_s")}
    for q in wl.queries:
        e = ex[q.name]
        if q.family in named:
            wall, driver = named[q.family]
            m[wall] = _median(x["wall"] for x in e)
            m[driver] = _median(x["driver"] for x in e)
        if q.family == "kll":
            m["quantiles.exchange_partitions"] = _median(
                max((s["tasks"] for s in x["stages"] if s["shuffle_read_bytes"] > 0), default=0)
                for x in e
            )
        if q.family == "lsh" and e:
            m["dedup.pair_join_s"] = max(0.0, _median(x["wall"] for x in e)
                                         - m["dedup.signature_s"])
            cand = _lsh_candidates(status, e[-1])
            m["dedup.candidate_pairs"] = cand
            verified = bench.facts.get(q.name, {}).get("verified_pairs", 0)
            m["dedup.verify_ratio"] = verified / cand if cand else 0.0
            widest = max(e[-1]["stages"], key=lambda s: s["tasks"])
            d = status.task_durations(widest)
            m["dedup.task_skew"] = max(d) / statistics.median(d) if d and statistics.median(d) > 0 else 0.0
            m["dedup.planted_recall"] = bench.facts.get(q.name, {}).get("planted_recall", 0.0)

    # Spark stages of every query execution, summed per pass
    per_pass = list(zip(*ex.values()))
    for field in ("run_s", "cpu_s", "gc_s", "tasks", "shuffle_write_bytes",
                  "shuffle_read_bytes"):
        m[f"stage.{field}"] = _median(
            sum(s[field] for x in p for s in x["stages"]) for p in per_pass
        )
    m["stage.wait_s"] = max(0.0, m["stage.run_s"] - m["stage.cpu_s"])
    m["stage.peak_exec_mem_bytes"] = max(
        (s["peak_exec_mem_bytes"] for p in per_pass for x in p for s in x["stages"]), default=0
    )

    for part in ("generate_s", "session_s", "cold_pass_s"):
        m[f"setup.{part}"] = _median(s[part] for s in setups)
    m["trace.overhead_frac"] = _median(traced["pass_s"]) / _median(untraced["pass_s"]) - 1.0
    m["host.ext_cpu_frac"] = _median(untraced["ext_cpu_frac"] + traced["ext_cpu_frac"])
    for name, walls in untraced["query_s"].items():
        m[f"query_s.{name}"] = _median(walls)
    units = dict(PER_LAYER)
    return {k: (v, units[k]) for k, v in m.items()}


def coverage(bench, untraced) -> dict:
    """Per motif query: traced (call + action) medians over the untraced
    median wall; within the trace overhead of 1 when the phases cover it."""
    out = {}
    for q in _motif_queries(bench.wl):
        e = _executions(bench.tracer, q.name)
        wall = _median(untraced["query_s"].get(q.name, []))
        if e and wall:
            out[q.name] = (_median(x["call"] for x in e) + _median(x["action"] for x in e)) / wall
    return out
