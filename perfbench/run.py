"""The sketch engine's benchmark: one seeded workload, a closed loop of its
queries, a correctness gate, and one JSON line of metrics.

    python3 perfbench/run.py --workload fold-small-alphabet --seed 1 \
        --seconds 12 --trace 0

Run from the root of a checkout (the directory holding
`epichypersketch_jl_spark/`).  One run:

1. sets up three times and reports the median as `setup_s`: generate the
   input (or find it in the cache) -> start a `local[nproc]` SparkSession
   from the engine's `session_builder` (which applies its malloc tuning) ->
   one cold pass over the query set.  The first set-up also launches the
   JVM; the later ones restart the SparkContext inside it;
2. runs warm passes back to back (one client, closed loop) for `--seconds`,
   forcing every lazy result through a `noop` sink, and reports as `pass_s`
   the sum of each query's median wall time;
3. runs every query once more, collects its answer and checks it against a
   recount made with numpy from the generated input (perfbench/oracle.py).

With `--trace 1` the run alternates untraced and traced passes for
`--seconds`, replays the engine's public kernels and sketches on the workload's
own data, and reports the per-layer metrics instead (perfbench/layers.py).

The last stdout line is {"correct", "attempted", "failed", "metrics"};
`attempted` counts query executions and `failed` those that raised or
failed their check.  Per-pass detail (sample counts, tail percentiles,
external-CPU fractions) goes to stderr and to `.perfbench_cache/runs/`.
Generated inputs, Spark scratch space and traces all stay under
`.perfbench_cache/` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

import gen
import host
import layers
import spans
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
ENGINE = "epichypersketch_jl_spark"
SETUP_REPS = 3


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A quarter of physical RAM, at most 2 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return min(2048, total_kb // 4096)


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest percentile with >= 10 samples beyond it."""
    n = len(samples)
    if n < 11:
        return None
    p = 1.0 - 10.0 / n
    return p, statistics.quantiles(samples, n=1000, method="inclusive")[int(p * 1000) - 1]


def summarize(samples: list[float]) -> dict:
    return {
        "median": statistics.median(samples) if samples else None,
        "n": len(samples),
        "tail": tail_percentile(samples),
    }


class Bench:
    def __init__(self, workload, seed: int, trace: bool):
        self.wl = workload
        self.seed = seed
        self.trace = trace
        self.spark = None
        self.ctx = None
        self.tracer = None
        self.attempted = 0
        self.failures: list[str] = []
        self.eager: list = []  # (query, result) of eager calls, checked in verify
        self.facts: dict[str, dict] = {}

    # -------------------------------------------------------------- session

    def _start_session(self, meta: dict):
        # the engine's own builder: AQE, Arrow batch size, and the glibc
        # malloc tuning, set in this process's environment before the JVM
        # and its Python workers start
        from epichypersketch_jl_spark.session import session_builder

        n, mem = nproc(), driver_memory_mb()
        spark = (
            session_builder(f"perfbench-{self.wl.name}", master=f"local[{n}]",
                            shuffle_partitions=2 * n)
            .config("spark.driver.memory", f"{mem}m")
            # commit the whole heap up front: the JVM's resident size then no
            # longer depends on when the collector chose to grow the heap
            .config("spark.driver.extraJavaOptions", f"-Xms{mem}m -XX:+AlwaysPreTouch")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.warehouse.dir", os.path.join(CACHE, "warehouse"))
            # one task per generated file: the split count is part of the workload
            .config("spark.sql.files.maxPartitionBytes", str(meta["max_file_bytes"]))
            .config("spark.sql.files.openCostInBytes", "1")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def _stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark, the JVM and every Python worker, and wait for them."""
        from pyspark import SparkContext

        tree = [p for p in host._subtree(host._proc_table(), os.getpid()) if p != os.getpid()]
        self._stop_session()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and any(_alive(p) for p in tree):
            time.sleep(0.1)

    # -------------------------------------------------------------- queries

    def run_query(self, q) -> object:
        """One execution of one query; lazy results go through a noop sink."""
        tr = self.tracer
        with tr.span(q.name, query=q.name, kind="query"):
            with tr.span(f"{q.name}:call", group=f"{q.name}:call", phase="call"):
                res = q.call(self.ctx)
            with tr.span(f"{q.name}:action", group=f"{q.name}:action", phase="action"):
                if q.lazy:
                    res.write.format("noop").mode("overwrite").save()
                elif q.family == "hll":
                    res = res.collect()
        return res

    def run_pass(self, walls: dict[str, list[float]] | None = None) -> float:
        """One pass over the query set; returns its wall time.  Eager results
        are kept for `verify`, so the checks' own memory and time stay out of
        the measured passes.  A query that raises counts as failed and the
        pass goes on."""
        t0 = time.perf_counter()
        for q in self.wl.queries:
            self.attempted += 1
            tq = time.perf_counter()
            try:
                res = self.run_query(q)
            except Exception as e:  # noqa: BLE001 -- a failed query is a result
                self.failures.append(f"{q.name}: {type(e).__name__}: {e}")
                traceback.print_exc(file=sys.stderr)
                continue
            if walls is not None:
                walls.setdefault(q.name, []).append(time.perf_counter() - tq)
            if not q.lazy:
                self.eager.append((q, res))
        return time.perf_counter() - t0

    # --------------------------------------------------------------- phases

    def setup(self, rep: int) -> dict:
        self._stop_session()  # a spark-submit user never pays the previous stop
        t0 = time.perf_counter()
        data_dir, meta, generated = gen.cached_input(
            os.path.join(CACHE, "inputs"), self.wl.name, self.wl.spec, self.seed
        )
        t1 = time.perf_counter()
        self.spark = self._start_session(meta)
        df = self.spark.read.parquet(data_dir)
        self.ctx = workloads.Context(self.spark, df, data_dir, meta)
        self.tracer = spans.Tracer(
            self.spark.sparkContext, self.wl.name, f"{self.wl.name}-s{self.seed}", False
        )
        t2 = time.perf_counter()
        self.run_pass()
        t3 = time.perf_counter()
        return {
            "rep": rep,
            "generated": generated,
            "generate_s": t1 - t0,
            "session_s": t2 - t1,
            "cold_pass_s": t3 - t2,
            "total_s": t3 - t0,
        }

    def timed_passes(self, seconds: float, status=None) -> list[dict]:
        """Warm passes back to back for `seconds`.  With a status store the
        passes alternate untraced / traced (so warm-up favours neither) and
        two result sets come back; otherwise one, untraced."""
        sides = [{"pass_s": [], "query_s": {}, "ext_cpu_frac": [], "peak_rss_mb": []}
                 for _ in range(2 if status is not None else 1)]
        start, n = time.perf_counter(), 0
        while n < len(sides) or time.perf_counter() - start < seconds:
            side = sides[n % len(sides)]
            self.tracer.enabled = n % len(sides) == 1
            with host.ExternalCpu() as cpu, host.PeakRss() as peak:
                side["pass_s"].append(self.run_pass(side["query_s"]))
            side["ext_cpu_frac"].append(cpu.frac)
            side["peak_rss_mb"].append(peak.peak_bytes / 2**20)
            if self.tracer.enabled:
                status.attach(self.tracer.spans)
            n += 1
        self.tracer.enabled = False
        return sides

    def verify(self) -> None:
        """Check every eager result kept from the passes, then run every
        query once more, collect its answer and check it."""
        for q, res in self.eager:
            value = [tuple(r) for r in res] if q.family == "hll" else res
            problems, _ = workloads.check(q, self.ctx, value)
            if problems:
                self.failures.append(f"{q.name}: {problems}")
        for q in self.wl.queries:
            self.attempted += 1
            try:
                self.spark.sparkContext.setJobGroup(f"ehs:{self.wl.name}:{q.name}:verify", "")
                value = workloads.materialize(q, q.call(self.ctx))
                problems, facts = workloads.check(q, self.ctx, value)
            except Exception as e:  # noqa: BLE001
                problems, facts = [f"{type(e).__name__}: {e}"], {}
                traceback.print_exc(file=sys.stderr)
            self.facts[q.name] = facts
            if problems:
                self.failures.append(f"{q.name} (verify): {problems}")

    def run(self, seconds: float) -> tuple[dict, dict]:
        """(the result line, the run's detail record)."""
        t_start = time.perf_counter()
        setups = [self.setup(rep) for rep in range(SETUP_REPS)]
        detail = {"workload": self.wl.name, "seed": self.seed, "trace": self.trace,
                  "nproc": nproc(), "setup": setups}
        if not self.trace:
            (timed,) = self.timed_passes(seconds)
            t_verify = time.perf_counter()
            self.verify()
            detail["verify_s"] = time.perf_counter() - t_verify
            # a pass made of each query's median execution: steadier than the
            # median pass wall when a run holds only a few passes
            pass_s = sum(statistics.median(v) for v in timed["query_s"].values())
            metrics = {
                "pass_s": (pass_s, "s"),
                "tokens_per_s": (self.ctx.meta["tokens"] / pass_s, "tokens/s"),
                "setup_s": (statistics.median(s["total_s"] for s in setups), "s"),
                "peak_rss_mb": (statistics.median(timed["peak_rss_mb"]), "MB"),
            }
            detail["timed"] = timed
        else:
            status = spans.StatusStore(self.spark)
            timed, traced = self.timed_passes(seconds, status)
            replays = layers.replay(self, status)
            self.verify()
            metrics = layers.metrics(self, setups, timed, traced, replays, status)
            detail.update(timed=timed, traced=traced, replays=replays,
                          phase_coverage=layers.coverage(self, timed))
            os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
            self.tracer.write(os.path.join(CACHE, "traces", f"{self.wl.name}-s{self.seed}.json"))
        detail["summary"] = {
            "pass_s": summarize(timed["pass_s"]),
            "query_s": {k: summarize(v) for k, v in timed["query_s"].items()},
            "ext_cpu_frac": timed["ext_cpu_frac"],
        }
        detail["run_s"] = time.perf_counter() - t_start
        detail["failures"] = self.failures
        detail["facts"] = self.facts
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }, detail


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _isolate_environment() -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let the workers import the engine from it."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply the workload's row count (the self-tests use 0.02)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"perfbench: no {ENGINE}/ package next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    _isolate_environment()
    wls = workloads.workloads()
    if args.workload not in wls:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(wls)}",
              file=sys.stderr)
        return 2
    gen.prune_cache(os.path.join(CACHE, "inputs"))
    wl = wls[args.workload]
    if args.scale != 1.0:
        wl.spec = {**wl.spec, "rows": max(200, round(wl.spec["rows"] * args.scale))}
    bench = Bench(wl, args.seed, bool(args.trace))
    try:
        result, detail = bench.run(args.seconds)
    finally:
        t_close = time.perf_counter()
        bench.close()
    detail["close_s"] = time.perf_counter() - t_close
    os.makedirs(os.path.join(CACHE, "runs"), exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}.json"
    with open(os.path.join(CACHE, "runs", name), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(json.dumps({"summary": detail["summary"], "failures": detail["failures"][:10]},
                     default=str), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
