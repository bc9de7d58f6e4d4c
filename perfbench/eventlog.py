"""Reader for Spark's uncompressed event log: task metrics and the
Python-UDF SQL metrics, totalled per phase.

A phase is the ``perfbench.phase`` local property set before the jobs it
covers (``common.set_phase``); it reaches the log in each job's
properties, and the job's stages map every task to it.
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path

# SQL metrics of ArrowEvalPython, the node that runs a scalar pandas UDF
# ("timing" metrics are milliseconds, "size" metrics bytes)
PY_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}
PY_NODE = "ArrowEvalPython"


def _plan_accumulators(node: dict, out: dict[int, str]) -> None:
    if node.get("nodeName") == PY_NODE:
        for m in node.get("metrics", ()):
            if m["name"] in PY_METRICS:
                out[m["accumulatorId"]] = PY_METRICS[m["name"]]
    for child in node.get("children", ()):
        _plan_accumulators(child, out)


def _events(log_dir: Path):
    for path in sorted(log_dir.rglob("events_*")):
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def phase_totals(log_dir: Path) -> dict[str, dict[str, float]]:
    """phase -> summed task metrics.  Times in seconds, sizes in bytes."""
    py_acc: dict[int, str] = {}
    stage_phase: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for e in _events(log_dir):
        kind = e["Event"]
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _plan_accumulators(e["sparkPlanInfo"], py_acc)
        elif kind == "SparkListenerJobStart":
            phase = (e.get("Properties") or {}).get("perfbench.phase")
            if phase:
                for sid in e["Stage IDs"]:
                    stage_phase[sid] = phase
        elif kind == "SparkListenerTaskEnd":
            phase = stage_phase.get(e["Stage ID"])
            if phase is None:
                continue
            t = out[phase]
            t["task_attempts"] += 1
            t["tasks"] += e["Task End Reason"]["Reason"] == "Success"
            m = e.get("Task Metrics") or {}
            t["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            t["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
            t["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            for acc in e["Task Info"].get("Accumulables", ()):
                name = py_acc.get(acc["ID"])
                if name is not None:
                    scale = 1e3 if name.endswith("_s") else 1.0
                    t[name] += float(acc.get("Update") or 0) / scale
    return {k: dict(v) for k, v in out.items()}
