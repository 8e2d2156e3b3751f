"""Spans recorded around calls into the program, and the Spark event log
read back after a traced run, turned into per-layer numbers."""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default


def percentile(values, q: float) -> float:
    """Linear-interpolated q-quantile (0 < q < 1) of a non-empty sample."""
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Spans:
    """In-memory spans: name, wall-clock start/end (epoch seconds, the
    event log's clock) and attributes. Read after the run."""

    def __init__(self) -> None:
        self.items: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, **attrs}
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.items.append(rec)

    def wrap(self, name: str, fn, attrs=dict):
        """``fn`` with a span around every call; the span keeps the return
        value as ``result`` and whatever ``attrs()`` returns at call time."""

        def wrapped(*args, **kwargs):
            with self.span(name, **attrs()) as rec:
                rec["result"] = fn(*args, **kwargs)
                return rec["result"]

        return wrapped

    def named(self, name: str) -> list[dict]:
        return [s for s in self.items if s["name"] == name]

    def ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000.0 for s in self.named(name)]


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings that write one uncompressed JSON event log."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class EventLog:
    """Jobs, stages and tasks of one application's event log."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.sql: dict[int, str] = {}  # execution id -> physical plan text
        paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        for path in paths:
            with open(path) as fh:
                for line in fh:
                    self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = {
                "submit": e["Submission Time"],
                "stages": e["Stage IDs"],
                "props": e.get("Properties") or {},
            }
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            scopes = []
            for rdd in info.get("RDD Info", []):
                if rdd.get("Scope"):
                    scopes.append(json.loads(rdd["Scope"]).get("name", ""))
            st = self.stages.setdefault(info["Stage ID"], {"tasks": []})
            st.update(
                n_tasks=info["Number of Tasks"],
                submit=info.get("Submission Time", 0),
                complete=info.get("Completion Time", 0),
                scopes=scopes,
            )
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            st = self.stages.setdefault(e["Stage ID"], {"tasks": []})
            st["tasks"].append(
                {
                    "run_ms": m.get("Executor Run Time", 0),
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "records_out": (m.get("Output Metrics") or {}).get("Records Written", 0),
                }
            )
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.sql[e["executionId"]] = e.get("physicalPlanDescription", "")

    def completed_stages(self, job_ids) -> list[dict]:
        """Stages that ran (skipped stages never complete) for these jobs."""
        out = []
        for j in job_ids:
            for s in self.jobs[j]["stages"]:
                st = self.stages.get(s)
                if st is not None and "n_tasks" in st:
                    out.append(st)
        return out

    def jobs_where(self, prop: str, value: str) -> list[int]:
        return sorted(j for j, job in self.jobs.items() if job["props"].get(prop) == value)

    def jobs_between(self, start_s: float, end_s: float) -> list[int]:
        lo, hi = start_s * 1000.0, end_s * 1000.0
        return sorted(j for j, job in self.jobs.items() if lo <= job["submit"] <= hi)

    def plan_of(self, job_id: int) -> str:
        eid = self.jobs[job_id]["props"].get("spark.sql.execution.id")
        return self.sql.get(int(eid), "") if eid is not None else ""


def stage_work(stages: list[dict]) -> dict[str, float]:
    """Summed executor time, shuffle and spill of some stages, and the
    max/median task run time in the longest of them."""
    run = [t["run_ms"] for st in stages for t in st["tasks"]]
    skew = 0.0
    if stages:
        longest = max(stages, key=lambda st: st["complete"] - st["submit"])
        times = [t["run_ms"] for t in longest["tasks"]]
        if times and median(times) > 0:
            skew = max(times) / median(times)
    return {
        "exec_ms": float(sum(run)),
        "shuffle_bytes": float(sum(t["shuffle_write"] for st in stages for t in st["tasks"])),
        "spill_bytes": float(sum(t["spill"] for st in stages for t in st["tasks"])),
        "task_skew": skew,
    }
