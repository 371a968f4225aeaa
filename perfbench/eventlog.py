"""Per-job-group engine figures from a Spark event log (JSON lines).

Only the traced run enables the event log. Each module or query runs
under its own job group, so task time, shuffle writes, spill, GC and
task skew can be charged to it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics


def find_log(log_dir: str) -> str:
    """The finished log of the one application the run started."""
    logs = [p for p in glob.glob(f"{log_dir}/*")
            if not p.endswith(".inprogress") and os.path.isfile(p)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {logs}")
    return logs[0]


def group_figures(path: str) -> dict[str, dict[str, float]]:
    """job group -> {jobs, task_s, shuffle_write_mb, spill_mb, gc_s,
    task_skew}. A stage shared by several jobs is charged to the first."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    tasks: dict[str, list[dict]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or "none"
                jobs[group] = jobs.get(group, 0) + 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"], "none")
                tasks.setdefault(group, []).append(ev)
    out = {}
    for group in set(jobs) | set(tasks):
        evs = tasks.get(group, [])
        run_ms = gc_ms = shuffle_b = spill_b = 0
        durations = []
        for ev in evs:
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            run_ms += m.get("Executor Run Time", 0)
            gc_ms += m.get("JVM GC Time", 0)
            shuffle_b += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            spill_b += m.get("Disk Bytes Spilled", 0)
            durations.append(info.get("Finish Time", 0)
                             - info.get("Launch Time", 0))
        med = statistics.median(durations) if durations else 0
        out[group] = {
            "jobs": jobs.get(group, 0),
            "tasks": len(evs),
            "task_s": run_ms / 1000,
            "shuffle_write_mb": shuffle_b / 1e6,
            "spill_mb": spill_b / 1e6,
            "gc_s": gc_ms / 1000,
            "task_skew": (max(durations) / med) if med > 0 else 1.0,
        }
    return out


def engine_metrics(figures: dict[str, dict[str, float]],
                   groups: list[str]) -> dict[str, float]:
    """The per-layer subset: task time and shuffle writes per group, and
    spill, GC and the worst skew over the traced groups."""
    out: dict[str, float] = {}
    traced = [figures[g] for g in groups if g in figures]
    for g in groups:
        fig = figures.get(g, {})
        out[f"engine.{g}.task_s"] = fig.get("task_s", 0.0)
        out[f"engine.{g}.shuffle_write_mb"] = fig.get("shuffle_write_mb",
                                                      0.0)
    out["engine.spill_mb"] = sum(f["spill_mb"] for f in traced)
    out["engine.gc_s"] = sum(f["gc_s"] for f in traced)
    out["engine.task_skew"] = max((f["task_skew"] for f in traced),
                                  default=1.0)
    return out
