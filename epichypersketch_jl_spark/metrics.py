"""Lineage + metrics logging (north_rule: per-partition lineage and metrics).

Every build pass already emits one metrics row per task/bucket (part_id,
n_rows, n_tokens, n_updates, wall_ms — see operators/sketch_build.py);
this module persists them as JSONL with run lineage: what ran, on what
input, with which config, producing which sketch.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, is_dataclass


def write_run_log(
    log_dir: str,
    *,
    run_id: str,
    job: str,
    input_desc: str,
    config,
    task_metrics: list[dict],
    sketch_meta: dict | None = None,
) -> str:
    """Append one lineage record + per-task metrics to <log_dir>/runs.jsonl.
    Returns the path.  Timestamps are wall-clock at write time."""
    os.makedirs(log_dir, exist_ok=True)
    path = os.path.join(log_dir, "runs.jsonl")
    cfg = asdict(config) if is_dataclass(config) else dict(config or {})
    rec = {
        "ts": time.time(),
        "run_id": run_id,
        "job": job,
        "input": input_desc,
        "config": cfg,
        "n_tasks": len(task_metrics),
        "totals": {
            "n_rows": sum(m.get("n_rows", 0) for m in task_metrics),
            "n_tokens": sum(m.get("n_tokens", 0) for m in task_metrics),
            "n_updates": sum(m.get("n_updates", 0) for m in task_metrics),
            "sum_wall_ms": sum(m.get("wall_ms", 0.0) for m in task_metrics),
        },
        "sketch": sketch_meta or {},
        "tasks": task_metrics,
    }
    with open(path, "a") as f:
        f.write(json.dumps(rec) + "\n")
    return path
