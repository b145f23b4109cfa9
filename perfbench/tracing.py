"""Measurement helpers: spans, peak RSS of the Spark processes, and the
Spark event-log summary.

Spans are kept in memory and written out when the run ends. Each span
also becomes the Spark job description of the jobs it starts, so the
event log can be cut along the same boundaries.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 1e6
RSS_INTERVAL_S = 0.1


class Spans:
    """In-memory span recorder: (name, start, end, parent)."""

    def __init__(self, sc):
        self.sc = sc
        self.records: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobDescription(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(self._stack[-1] if self._stack else None)
            self.records.append({"name": name, "start": start, "end": end,
                                 "parent": parent})

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.records if r["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.records, fh, indent=1)


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(entry))
    return tree


def descendants(pid: int | None = None) -> list[int]:
    """All live descendant pids of ``pid`` (default: this process)."""
    tree = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for child in tree.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm", encoding="utf-8") as fh:
            return int(fh.read().split()[1]) * PAGE_MB
    except OSError:
        return 0.0


class RssSampler:
    """Samples the summed RSS of this process's descendants (the Spark
    JVM and its Python workers) from /proc and keeps the peak."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            total = sum(_rss_mb(pid) for pid in descendants())
            self.peak_mb = max(self.peak_mb, total)
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# -- event log ---------------------------------------------------------------

PYTHON_NODES = ("MapInArrow", "MapInPandas", "FlatMapGroupsInPandas",
                "ArrowEvalPython", "BatchEvalPython", "FlatMapCoGroupsInPandas",
                "AggregateInPandas", "WindowInPandas")


def _plan_nodes(info: dict, out: list[str]) -> list[str]:
    out.append(info.get("nodeName", ""))
    for child in info.get("children", []):
        _plan_nodes(child, out)
    return out


def plan_counts(nodes: list[str]) -> dict:
    return {
        "exchanges": sum(n in ("Exchange", "BroadcastExchange") for n in nodes),
        "reused_exchanges": sum(n == "ReusedExchange" for n in nodes),
        "cache_scans": sum(n == "InMemoryTableScan" for n in nodes),
        "python_nodes": sum(any(p in n for p in PYTHON_NODES) for n in nodes),
        "kernel_nodes": sum("MapInArrow" in n for n in nodes),
        "writes": sum(n.startswith("Execute InsertIntoHadoopFsRelationCommand")
                      for n in nodes),
    }


def read_eventlog(directory: str) -> dict:
    """Parse every event-log file in ``directory`` into stages and SQL
    executions, each tagged with the job description (span name) that
    was active when it ran. Ids restart with each SparkContext, so
    entries are keyed by (log file, id)."""
    stage_desc: dict[tuple, str] = {}
    stages: dict[tuple, dict] = {}
    execs: dict[tuple, dict] = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[name, sid] = desc
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault((name, info["Stage ID"]), {"tasks": []})
                    st["scopes"] = {json.loads(r["Scope"])["name"]
                                    for r in info.get("RDD Info", []) if "Scope" in r}
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault((name, ev["Stage ID"]), {"tasks": []})
                    m = ev.get("Task Metrics") or {}
                    srm = m.get("Shuffle Read Metrics") or {}
                    swm = m.get("Shuffle Write Metrics") or {}
                    st["tasks"].append({
                        "run_ms": m.get("Executor Run Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "sh_read": srm.get("Local Bytes Read", 0) + srm.get("Remote Bytes Read", 0),
                        "sh_write": swm.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                    })
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    execs[name, ev["executionId"]] = {
                        "desc": ev.get("description", ""),
                        "start": ev.get("time", 0),
                        "nodes": _plan_nodes(ev.get("sparkPlanInfo", {}), []),
                    }
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    if (name, ev["executionId"]) in execs:
                        execs[name, ev["executionId"]]["nodes"] = _plan_nodes(
                            ev.get("sparkPlanInfo", {}), [])
                elif kind.endswith("SparkListenerSQLExecutionEnd"):
                    if (name, ev["executionId"]) in execs:
                        execs[name, ev["executionId"]]["end"] = ev.get("time", 0)
    for key, st in stages.items():
        st["desc"] = stage_desc.get(key, "")
    return {"stages": stages, "execs": execs}


def _skew(run_ms: list[int]) -> float:
    med = statistics.median(run_ms) if run_ms else 0
    return max(run_ms) / med if med > 0 else 1.0


def stage_summary(log: dict, desc: str) -> dict:
    """Totals over the stages and SQL executions run under span
    ``desc``: stage and task counts, shuffle and spill MB, task and GC
    milliseconds, the task skew (max / median task time) of the stage
    with the most task time, and plan-shape counts summed over the final
    (post-AQE) plans."""
    stages = [st for st in log["stages"].values() if st["desc"] == desc]
    tasks = [t for st in stages for t in st["tasks"]]
    run_ms = sum(t["run_ms"] for t in tasks)
    heaviest = max(stages, key=lambda st: sum(t["run_ms"] for t in st["tasks"]),
                   default=None)
    counts: dict = {}
    execs = [ex for ex in log["execs"].values() if ex["desc"] == desc]
    for ex in execs:
        for key, value in plan_counts(ex["nodes"]).items():
            counts[key] = counts.get(key, 0) + value
    return {
        "stages": len(stages),
        "tasks": len(tasks),
        "shuffle_write_mb": sum(t["sh_write"] for t in tasks) / 1e6,
        "shuffle_read_mb": sum(t["sh_read"] for t in tasks) / 1e6,
        "spill_mb": sum(t["spill"] for t in tasks) / 1e6,
        "run_ms": run_ms,
        "gc_ms": sum(t["gc_ms"] for t in tasks),
        "task_skew": _skew([t["run_ms"] for t in heaviest["tasks"]]) if heaviest else 1.0,
        "executions": len(execs),
        **counts,
    }


def kernel_stages(log: dict, desc: str) -> list[dict]:
    """Stages under span ``desc`` that ran the Arrow kernel stage (an
    RDD of the stage was created by a MapInArrow operator)."""
    return [st for st in log["stages"].values()
            if st["desc"] == desc and "MapInArrow" in st.get("scopes", ())]
