"""Per-stage task metrics from Spark's own (uncompressed) event log.

The traced run tags every job call and every layer probe with a Spark
job group; this module maps each task back to its group through the
JobStart events and sums the TaskEnd metrics per group.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

# physical operators that run a Python UDF over Arrow batches
_UDF_SCOPES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "FlatMapGroupsInPandas")


def _event_files(log_dir: Path) -> list[Path]:
    """Event files in write order. Spark 4 rolls the log into
    `eventlog_v2_<app>/events_<n>_<app>` beside an empty `appstatus`
    marker; the local file system adds `.crc` siblings."""

    def order(p: Path) -> tuple[int, str]:
        part = p.name.split("_")
        return (int(part[1]) if p.name.startswith("events_") and part[1].isdigit() else 0, p.name)

    return sorted(
        (
            p
            for p in Path(log_dir).rglob("*")
            if p.is_file() and not p.name.startswith((".", "appstatus")) and p.stat().st_size
        ),
        key=order,
    )


def read_events(log_dir: Path) -> list[dict]:
    files = _event_files(log_dir)
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")
    events = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


class EventLog:
    def __init__(self, events: list[dict]):
        self.stage_group: dict[int, str] = {}
        self.udf_stages: set[int] = set()
        self.tasks: dict[int, list[dict]] = {}
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in e.get("Stage IDs", []):
                    if group:
                        self.stage_group[sid] = group
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                scopes = " ".join(
                    f"{r.get('Scope', '')} {r.get('Name', '')}" for r in info.get("RDD Info", [])
                )
                if any(s in scopes for s in _UDF_SCOPES):
                    self.udf_stages.add(info["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                shuffle_w = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                self.tasks.setdefault(e["Stage ID"], []).append(
                    {
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "shuffle_write_b": shuffle_w,
                        "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    }
                )

    def stages_of(self, group: str) -> list[int]:
        return sorted(s for s, g in self.stage_group.items() if g == group and s in self.tasks)

    def totals(self, group: str) -> dict:
        tasks = [t for s in self.stages_of(group) for t in self.tasks[s]]
        return {
            "task_s_sum": sum(t["run_s"] for t in tasks),
            "cpu_s_sum": sum(t["cpu_s"] for t in tasks),
            "gc_s": sum(t["gc_s"] for t in tasks),
            "shuffle_write_mb": sum(t["shuffle_write_b"] for t in tasks) / 1e6,
            "spill_mb": sum(t["spill_b"] for t in tasks) / 1e6,
            "tasks": len(tasks),
        }

    def udf_task_times(self, group: str) -> list[float]:
        """Run times of the tasks of the group's Python-UDF stages."""
        return [
            t["run_s"]
            for s in self.stages_of(group)
            if s in self.udf_stages
            for t in self.tasks[s]
        ]


def task_skew(times: list[float]) -> dict:
    if not times:
        return {"task_s_p50": 0.0, "task_s_max": 0.0, "task_max_over_p50": 0.0}
    p50 = statistics.median(times)
    mx = max(times)
    return {
        "task_s_p50": p50,
        "task_s_max": mx,
        "task_max_over_p50": mx / p50 if p50 > 0 else 0.0,
    }
