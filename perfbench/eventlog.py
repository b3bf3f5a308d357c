"""Reader for Spark's uncompressed JSON event log.

Only the jobs submitted inside the timed passes' windows count, so the
warm-up and the output checks never leak into the per-layer figures.
Python-worker start-up is the exception: workers start during the
warm-up and are reused, so it is summed over the whole session.
Python-worker figures come from the SQL metrics of every plan node
that reports them (MapInArrow / MapInPandas in this program); their
accumulator ids are taken from the plan infos, their values from the
per-task accumulator updates.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

# SQL metric display name -> key in the result
PYTHON_METRICS = {
    "time to run Python workers": "python_run",
    "time to initialize Python workers": "python_init",
    "time to start Python workers": "python_boot",
    "data sent to Python workers": "python_sent",
    "data returned from Python workers": "python_received",
}

_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}  # -> seconds; sizes stay bytes


def _events(log_dir: str):
    """Events of every log file under ``log_dir`` (one application)."""
    paths = sorted(
        p
        for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))
    )
    if not paths:
        raise FileNotFoundError(f"no event log under {log_dir}")
    for p in paths:
        with open(p, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        if m["name"] in PYTHON_METRICS:
            out[m["accumulatorId"]] = (PYTHON_METRICS[m["name"]], m["metricType"])
    for c in node.get("children", []):
        _plan_metrics(c, out)


def _python_updates(task_end: dict, py_acc: dict):
    """(key, value) of the task's Python-node metric updates, times in
    seconds and sizes in bytes."""
    for acc in task_end["Task Info"].get("Accumulables", []):
        hit = py_acc.get(acc["ID"])
        if hit is not None and acc.get("Update") is not None:
            key, mtype = hit
            yield key, float(acc["Update"]) * _SCALE.get(mtype, 1.0)


def read_event_log(log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Figures summed over the jobs submitted inside ``windows``
    (epoch-second intervals, one per timed pass)."""
    win_ms = [(a * 1000.0, b * 1000.0) for a, b in windows]
    py_acc: dict[int, tuple[str, str]] = {}
    job_stages: dict[int, tuple[int, list[int]]] = {}
    stage_wall: dict[int, tuple[int, int]] = {}
    tasks: list[dict] = []
    for ev in _events(log_dir):
        kind = ev["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_metrics(ev["sparkPlanInfo"], py_acc)
        elif kind == "SparkListenerJobStart":
            job_stages[ev["Job ID"]] = (ev["Submission Time"], ev["Stage IDs"])
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_wall[info["Stage ID"]] = (info["Submission Time"], info["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)

    def in_window(t_ms: int) -> int | None:
        for i, (a, b) in enumerate(win_ms):
            if a <= t_ms <= b:
                return i
        return None

    stage_pass: dict[int, int] = {}
    for submitted, stage_ids in job_stages.values():
        k = in_window(submitted)
        if k is not None:
            for s in stage_ids:
                stage_pass[s] = k

    out = {k: 0.0 for k in PYTHON_METRICS.values()}
    out.update(
        shuffle_write_bytes=0, disk_spilled_bytes=0, output_bytes=0,
        gc_s=0.0, executor_cpu_s=0.0,
    )
    # worker start-up happens in the warm-up, so boot time counts the whole session
    out["python_boot_session"] = 0.0
    py_stage_runs: dict[int, list[float]] = {}
    for ev in tasks:
        if ev["Task End Reason"]["Reason"] != "Success":
            continue
        updates = list(_python_updates(ev, py_acc))
        out["python_boot_session"] += sum(v for k, v in updates if k == "python_boot")
        sid = ev["Stage ID"]
        if sid not in stage_pass:
            continue
        m = ev.get("Task Metrics") or {}
        out["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        out["disk_spilled_bytes"] += m.get("Disk Bytes Spilled", 0)
        out["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
        out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        for key, v in updates:
            out[key] += v
        if updates:
            py_stage_runs.setdefault(sid, []).append(m.get("Executor Run Time", 0) / 1e3)

    # task skew of each pass's heaviest Python stage, averaged over passes
    heaviest: dict[int, list[float]] = {}
    for sid, runs in py_stage_runs.items():
        k = stage_pass[sid]
        if sum(runs) > sum(heaviest.get(k, [])):
            heaviest[k] = runs
    skews = [
        max(r) / statistics.median(r)
        for r in heaviest.values()
        if statistics.median(r) > 0
    ]
    out["task_skew"] = statistics.fmean(skews) if skews else 1.0
    # wall time of the stages that ran a Python node, per pass
    out["python_stage_wall_s"] = [0.0] * len(windows)
    for sid in py_stage_runs:
        if sid in stage_wall:
            a, b = stage_wall[sid]
            out["python_stage_wall_s"][stage_pass[sid]] += (b - a) / 1e3
    return out
