"""Per-layer counters from a Spark event log (uncompressed JSON lines).

Only four event types are decoded: job starts, stage completions, task
ends and streaming query progress. Each is reduced to a small record
stamped with a wall-clock time in epoch milliseconds, and callers ask
for the totals inside a time window (one pass, one query). A window is
the attribution that holds for every job: streaming micro-batches
replace the job description the benchmark sets with their own, so a
description match only works for batch jobs.
"""

from __future__ import annotations

import json
import statistics
from collections.abc import Iterable
from datetime import datetime

# SQL-metric names of the Arrow boundary (PythonSQLMetrics in Spark).
PY_BYTES_OUT = "data sent to Python workers"
PY_BYTES_IN = "data returned from Python workers"

_KINDS = {
    "SparkListenerJobStart": "job",
    "SparkListenerStageCompleted": "stage",
    "SparkListenerTaskEnd": "task",
    "StreamingQueryListener$QueryProgressEvent": "batch",
}


def read(path: str) -> list[dict]:
    """Decode the event types this module uses; skip every other line
    without parsing it (SQL-execution events carry whole plans)."""
    records = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            head = line[:96]
            for marker, kind in _KINDS.items():
                if marker in head:
                    records.append(_reduce(kind, json.loads(line)))
                    break
    return records


def _reduce(kind: str, ev: dict) -> dict:
    if kind == "job":
        desc = (ev.get("Properties") or {}).get("spark.job.description")
        return {"kind": kind, "t": ev["Submission Time"], "desc": desc}
    if kind == "stage":
        info = ev["Stage Info"]
        return {"kind": kind, "t": info.get("Submission Time", 0)}
    if kind == "task":
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        py = {PY_BYTES_OUT: 0, PY_BYTES_IN: 0}
        for acc in info.get("Accumulables", []):
            if acc.get("Name") in py:
                py[acc["Name"]] += int(acc.get("Update") or 0)
        return {
            "kind": kind,
            "t": info["Launch Time"],
            "failed": ev["Task End Reason"].get("Reason") != "Success",
            "run_ms": m.get("Executor Run Time", 0),
            "cpu_ns": m.get("Executor CPU Time", 0),
            "gc_ms": m.get("JVM GC Time", 0),
            "shuffle_read": sr.get("Remote Bytes Read", 0)
            + sr.get("Local Bytes Read", 0),
            "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            ),
            "spill": m.get("Disk Bytes Spilled", 0),
            "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
            "output": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
            "py_out": py[PY_BYTES_OUT],
            "py_in": py[PY_BYTES_IN],
        }
    p = ev["progress"]
    ops = p.get("stateOperators") or []
    ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    return {
        "kind": kind,
        "t": int(ts.timestamp() * 1000),
        "run": p.get("runId"),
        "trigger_ms": (p.get("durationMs") or {}).get("triggerExecution", 0),
        "state_rows": sum(op.get("numRowsTotal", 0) for op in ops),
        "commit_ms": sum(op.get("commitTimeMs", 0) for op in ops),
    }


def window(records: Iterable[dict], t0_ms: float, t1_ms: float) -> dict:
    """Totals of everything that started in [t0_ms, t1_ms)."""
    out = {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "failed_tasks": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "input_bytes": 0,
        "output_bytes": 0,
        "python_bytes_out": 0,
        "python_bytes_in": 0,
        "stream_batches": 0,
        "stream_commit_s": 0.0,
    }
    triggers: list[float] = []
    last_state: dict[str, int] = {}
    for r in records:
        if not t0_ms <= r["t"] < t1_ms:
            continue
        kind = r["kind"]
        if kind == "job":
            out["jobs"] += 1
        elif kind == "stage":
            out["stages"] += 1
        elif kind == "task":
            out["tasks"] += 1
            out["failed_tasks"] += r["failed"]
            out["executor_run_s"] += r["run_ms"] / 1e3
            out["executor_cpu_s"] += r["cpu_ns"] / 1e9
            out["gc_s"] += r["gc_ms"] / 1e3
            out["shuffle_read_bytes"] += r["shuffle_read"]
            out["shuffle_write_bytes"] += r["shuffle_write"]
            out["spill_bytes"] += r["spill"]
            out["input_bytes"] += r["input"]
            out["output_bytes"] += r["output"]
            out["python_bytes_out"] += r["py_out"]
            out["python_bytes_in"] += r["py_in"]
        else:
            out["stream_batches"] += 1
            out["stream_commit_s"] += r["commit_ms"] / 1e3
            triggers.append(r["trigger_ms"] / 1e3)
            # state rows are a level, not a flow: a stream's last batch
            # holds its final state size
            last_state[r["run"]] = r["state_rows"]
    out["stream_batch_s"] = statistics.median(triggers) if triggers else 0.0
    out["stream_state_rows"] = sum(last_state.values())
    return out


def jobs_by_description(records: Iterable[dict]) -> dict[str, int]:
    """Batch jobs per job description (the benchmark's span ids)."""
    counts: dict[str, int] = {}
    for r in records:
        if r["kind"] == "job" and r["desc"]:
            counts[r["desc"]] = counts.get(r["desc"], 0) + 1
    return counts
