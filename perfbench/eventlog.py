"""Spark event-log reader: task metrics summed per job group.

The traced run tags the jobs of each span with ``setJobGroup(span name)``;
this module folds the ``SparkListenerTaskEnd`` events of those jobs into one
row of layer metrics per group. Only finished tasks that the log attributes
to a tagged job are counted.
"""

from __future__ import annotations

import glob
import json
import os

# SQL metrics of the Python-evaluation nodes (MapInArrow, ArrowEvalPython),
# reported per task as accumulables
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PY_RUN = "time to run Python workers"


def _empty() -> dict:
    return {
        "task_s": 0.0,
        "cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "peak_exec_mem_bytes": 0,
        "py_sent_bytes": 0,
        "py_recv_bytes": 0,
        "py_run_s": 0.0,
    }


def _applications(log_dir: str) -> list[list[str]]:
    """The event-log parts of each application under ``log_dir``, in order.
    Spark 4 writes a rolling log: one directory per application holding
    events_<n>_<app id> parts."""
    apps = []
    for app in sorted(glob.glob(os.path.join(log_dir, "*"))):
        parts = glob.glob(os.path.join(app, "events_*"))
        apps.append(sorted(parts, key=lambda f: int(os.path.basename(f).split("_")[1])))
    return apps


def _add_task(g: dict, e: dict) -> None:
    tm = e["Task Metrics"]
    g["task_s"] += tm.get("Executor Run Time", 0) / 1e3
    g["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    sw = tm.get("Shuffle Write Metrics") or {}
    g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    g["peak_exec_mem_bytes"] = max(g["peak_exec_mem_bytes"], tm.get("Peak Execution Memory", 0))
    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
        name, upd = acc.get("Name"), acc.get("Update")
        if upd is None:
            continue
        if name == _PY_SENT:
            g["py_sent_bytes"] += int(upd)
        elif name == _PY_RECV:
            g["py_recv_bytes"] += int(upd)
        elif name == _PY_RUN:  # a timing SQL metric: milliseconds
            g["py_run_s"] += int(upd) / 1e3


def group_metrics(log_dir: str) -> dict[str, dict]:
    """Parse every event log under ``log_dir``; return ``{group: metrics}``.

    Times are seconds summed over tasks, byte counts are summed, and
    ``peak_exec_mem_bytes`` is the largest single-task peak.
    """
    out: dict[str, dict] = {}
    for parts in _applications(log_dir):
        stage_group: dict[int, str] = {}  # stage ids restart in each application
        for path in parts:
            with open(path) as f:
                for line in f:
                    e = json.loads(line)
                    kind = e.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                        for sid in e.get("Stage IDs", []) if group else []:
                            stage_group[sid] = group
                    elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                        group = stage_group.get(e.get("Stage ID"))
                        if group is not None:
                            _add_task(out.setdefault(group, _empty()), e)
    return out
