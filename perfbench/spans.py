"""Spans around the benchmark's calls into the engine, joined with Spark's
own job, stage, task and SQL-node metrics from the driver's status store.

Every span carries a name, start, end, parent and run id, and sets the
Spark job group `ehs:<workload>:<query>:<phase>` while it is open, so each
Spark job the engine launches inside the span can be attributed to it
without touching the engine.  Spans are kept in memory and written once, at
the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, workload: str, run_id: str, enabled: bool):
        self.sc = sc
        self.workload = workload
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        """Open a span; `group` (query:phase) labels the Spark jobs it runs."""
        label = f"ehs:{self.workload}:{group}" if group else None
        if label:
            self.sc.setJobGroup(label, name)
        self._next_id += 1
        rec = {
            "id": self._next_id,
            "name": name,
            "group": label,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            **attrs,
        }
        self._stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if label:  # later jobs must not inherit this span's label
                self.sc.setJobGroup(f"ehs:{self.workload}:bench:idle", "")
            if self.enabled:
                self.spans.append(rec)

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def self_time(self, rec: dict) -> float:
        """Duration minus the part of it covered by child spans."""
        return (rec["end"] - rec["start"]) - union_seconds(
            [(c["start"], c["end"]) for c in self.children(rec)]
        )

    def write(self, path: str) -> None:
        for rec in self.spans:
            rec["self_s"] = self.self_time(rec)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=str)


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _ms(date_opt) -> float | None:
    d = _opt(date_opt)
    return d.getTime() / 1000.0 if d is not None else None


STAGE_FIELDS = {
    "tasks": lambda s: s.numTasks(),
    "run_s": lambda s: s.executorRunTime() / 1e3,
    "cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "gc_s": lambda s: s.jvmGcTime() / 1e3,
    "input_records": lambda s: s.inputRecords(),
    "result_bytes": lambda s: s.resultSize(),
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "peak_exec_mem_bytes": lambda s: s.peakExecutionMemory(),
}


class StatusStore:
    """Reads the driver's AppStatusStore (works with the UI disabled)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.seen_job = max((j["id"] for j in self._jobs(-1)), default=-1)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.jsc.listenerBus().waitUntilEmpty()

    def _jobs(self, after: int) -> list[dict]:
        out = []
        for j in _seq(self.store.jobsList(None)):
            if j.jobId() <= after:
                continue
            out.append(
                {
                    "id": j.jobId(),
                    "group": _opt(j.jobGroup()),
                    "start": _ms(j.submissionTime()),
                    "end": _ms(j.completionTime()),
                    "stage_ids": [int(x) for x in _seq(j.stageIds())],
                }
            )
        return out

    def attach(self, spans: list[dict]) -> None:
        """Attach the jobs (and their stages) started since the last call to
        the span whose job group launched them."""
        self.drain()
        jobs = self._jobs(self.seen_job)
        if not jobs:
            return
        self.seen_job = max(j["id"] for j in jobs)
        wanted = {sid for j in jobs for sid in j["stage_ids"]}
        stages = {}
        arr = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        for s in _seq(self.store.stageList(None, False, False, arr, None)):
            sid = s.stageId()
            if sid in wanted and str(s.status()) != "SKIPPED":
                rec = {k: f(s) for k, f in STAGE_FIELDS.items()}
                rec.update(id=sid, attempt=s.attemptId())
                stages[sid] = rec
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            j["stages"] = [stages[sid] for sid in j["stage_ids"] if sid in stages]
            by_group.setdefault(j["group"], []).append(j)
        # untraced passes reuse the same labels: match on submission time too
        # (the status store keeps milliseconds)
        for rec in spans:
            if rec.get("group") and "jobs" not in rec:
                rec["jobs"] = [
                    j for j in by_group.get(rec["group"], [])
                    if j["start"] is not None
                    and rec["start"] - 0.01 <= j["start"] <= rec["end"] + 0.01
                ]

    def task_durations(self, stage: dict) -> list[float]:
        tasks = self.store.taskList(stage["id"], stage["attempt"], 1 << 20)
        return [d / 1e3 for d in (_opt(t.duration()) for t in _seq(tasks)) if d is not None]

    def sql_output_rows(self, job_ids: set[int]) -> list[tuple[int, str, int]]:
        """(node id, node name, output rows) for every plan node of the SQL
        executions that ran any of `job_ids`; node ids grow from the root."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        out = []
        for e in _seq(sql.executionsList()):
            jobs = {int(k) for k in _seq(e.jobs().keys().toSeq())}
            if not jobs & job_ids:
                continue
            values = sql.executionMetrics(e.executionId())
            for node in _seq(sql.planGraph(e.executionId()).allNodes()):
                for m in _seq(node.metrics()):
                    if m.name() != "number of output rows":
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        try:
                            out.append((node.id(), node.name(), int(v.get().replace(",", ""))))
                        except ValueError:
                            pass
        return out


def span_jobs(rec: dict) -> list[dict]:
    return rec.get("jobs", [])


def span_stages(rec: dict) -> list[dict]:
    return [s for j in span_jobs(rec) for s in j["stages"]]


def driver_seconds(rec: dict) -> float:
    """Span wall time not covered by any of its Spark jobs."""
    iv = [(j["start"], j["end"]) for j in span_jobs(rec) if j["start"] and j["end"]]
    return max(0.0, (rec["end"] - rec["start"]) - union_seconds(iv))
