"""Spark event-log reader: folds task metrics per job group.

The traced run tags every layer call with ``setJobGroup`` (see
spans.py), so each Spark job carries the id of the span that issued it.
This reader maps job -> group and stage -> group from ``JobStart``
events, then folds every ``TaskEnd`` into its group:

- ``TaskEnd`` task metrics: CPU and GC time, shuffle bytes written,
  disk spill, output bytes, task wall (launch -> finish);
- the Python-exec SQL metrics Spark attaches to the task accumulables
  (time to run Python workers, data sent to and returned from them).
  Tasks that carry them ran a Python UDF.
"""

from __future__ import annotations

import dataclasses
import json
import os

PY_METRICS = {
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_sent_b",
    "data returned from Python workers": "py_returned_b",
}


@dataclasses.dataclass
class GroupStats:
    jobs: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_b: int = 0
    spill_disk_b: int = 0
    output_b: int = 0
    task_ms: list = dataclasses.field(default_factory=list)
    py_task_ms: list = dataclasses.field(default_factory=list)
    py_gc_ms: int = 0
    py_run_ms: int = 0
    py_sent_b: int = 0
    py_returned_b: int = 0

    def add(self, other: "GroupStats") -> None:
        for f in dataclasses.fields(self):
            a, b = getattr(self, f.name), getattr(other, f.name)
            setattr(self, f.name, a + b)


def _event_files(path: str) -> list[str]:
    """Event files under the event-log dir ``path``: single-file logs
    (``local-*``) and rolling parts (``eventlog_v2_*/events_<N>_*``),
    the latter in part order."""
    def part(fn: str) -> int:
        n = fn.split("_")[1]
        return int(n) if n.isdigit() else 0

    out = []
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.startswith("events_"):
                out.append((root, part(fn), fn))
            elif fn.startswith(("local-", "app-")):
                out.append((root, 0, fn))
    return [os.path.join(r, fn) for r, _n, fn in sorted(out)]


def read_groups(path: str) -> dict[str, GroupStats]:
    """Fold the event log under ``path`` into ``{job group: stats}``.
    Jobs without a group land under ``""``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}
    for fn in _event_files(path):
        with open(fn) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or ""
                    groups.setdefault(grp, GroupStats()).jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = grp
                elif kind == "SparkListenerTaskEnd":
                    _fold_task(groups.setdefault(
                        stage_group.get(ev.get("Stage ID"), ""),
                        GroupStats()), ev)
    return groups


def _fold_task(g: GroupStats, ev: dict) -> None:
    tm = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    g.cpu_ns += tm.get("Executor CPU Time", 0)
    g.gc_ms += tm.get("JVM GC Time", 0)
    g.shuffle_write_b += (tm.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    g.spill_disk_b += tm.get("Disk Bytes Spilled", 0)
    g.output_b += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
    wall = max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0))
    g.task_ms.append(wall)
    py = {PY_METRICS[a["Name"]]: int(a.get("Update") or 0)
          for a in info.get("Accumulables", [])
          if a.get("Name") in PY_METRICS}
    if py:
        g.py_task_ms.append(wall)
        g.py_gc_ms += tm.get("JVM GC Time", 0)
        for k, v in py.items():
            setattr(g, k, getattr(g, k) + v)
