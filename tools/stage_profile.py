"""Stage-level profiler for one registry query (optimization guide §1/§7).

Runs a single ``queries()`` entry with the Spark event log enabled and
summarizes where the time went: per-stage wall time, task count, input/
shuffle-read/shuffle-write bytes, and the fraction of task time spent in
fetch wait / GC — the UI's Stages tab, reduced to a terminal.

Usage:
    python tools/stage_profile.py kg_pagerank [sf_dir] [--reps 2]

The warm-up and fresh-queries()-per-rep methodology matches bench.py so
the profiled run is the same job the bench times.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)


def _iter_lines(paths: list[str]):
    for path in paths:
        with open(path) as fh:
            yield from fh


def summarize_events(paths: list[str], only_desc: str | None = None) -> list[dict]:
    """Aggregate task metrics per stage from event-log files.
    ``only_desc``: keep only stages of jobs whose description contains
    this substring (so the warm rep can be isolated from the warm-up)."""
    stages: dict[tuple, dict] = {}
    keep_stage_ids: set[int] | None = set() if only_desc else None
    for line in _iter_lines(paths):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart" and only_desc is not None:
            desc = (ev.get("Properties") or {}).get("spark.job.description", "")
            if only_desc in desc:
                for sid in ev.get("Stage IDs", []):
                    keep_stage_ids.add(sid)
            continue
        if kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            st = stages.setdefault(key, {"tasks": 0})
            st["name"] = info["Stage Name"].split("\n")[0][:90]
            sub = info.get("Submission Time")
            comp = info.get("Completion Time")
            st["wall_ms"] = (comp - sub) if sub and comp else None
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            st = stages.setdefault(key, {"tasks": 0})
            st["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            st["task_ms"] = st.get("task_ms", 0) + m.get("Executor Run Time", 0)
            st["gc_ms"] = st.get("gc_ms", 0) + m.get("JVM GC Time", 0)
            st["cpu_ms"] = st.get("cpu_ms", 0) + (m.get("Executor CPU Time", 0) // 1_000_000)
            inp = m.get("Input Metrics") or {}
            st["input_mb"] = st.get("input_mb", 0) + inp.get("Bytes Read", 0) / 1e6
            srm = m.get("Shuffle Read Metrics") or {}
            st["sh_read_mb"] = st.get("sh_read_mb", 0) + (
                srm.get("Local Bytes Read", 0) + srm.get("Remote Bytes Read", 0)
            ) / 1e6
            st["fetch_ms"] = st.get("fetch_ms", 0) + srm.get("Fetch Wait Time", 0)
            swm = m.get("Shuffle Write Metrics") or {}
            st["sh_write_mb"] = st.get("sh_write_mb", 0) + swm.get("Shuffle Bytes Written", 0) / 1e6
            st["spill_mb"] = st.get("spill_mb", 0) + m.get("Disk Bytes Spilled", 0) / 1e6
    out = []
    for (sid, att), st in sorted(stages.items()):
        if keep_stage_ids is not None and sid not in keep_stage_ids:
            continue
        st["stage"] = f"{sid}.{att}"
        out.append(st)
    return out


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 and not sys.argv[2].startswith("--") \
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(sys.argv[sys.argv.index("--reps") + 1]) if "--reps" in sys.argv else 2
    # --pre q1,q2: run these registry queries first with the SAME
    # queries() map (bench.py runs the headline list in order, so e.g.
    # kg_pagerank sees a WARM shared triples cache from kg_triples)
    pre = (sys.argv[sys.argv.index("--pre") + 1].split(",")
           if "--pre" in sys.argv else [])

    evdir = "/tmp/spark-events-profile"
    import shutil
    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir, exist_ok=True)

    from jsonld_spark.plans.session import get_spark
    import __spark_entry__ as entrymod

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark(
        app_name=f"profile-{name}", cores=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    sc = spark.sparkContext
    entrymod.queries()["kg_triples"](spark, "/root/testdata/sf0.001").count()

    from jsonld_spark.operators import scratch

    times = []
    for rep in range(reps):
        queries = entrymod.queries()
        spark.catalog.clearCache()
        scratch.release()
        for p in pre:
            queries[p](spark, sf_dir).count()
        df = queries[name](spark, sf_dir)
        sc.setJobDescription(f"{name} rep{rep}")
        t0 = time.time()
        df.count()
        times.append(round(time.time() - t0, 3))
        sc.setJobDescription(None)
    spark.stop()

    logs = []
    for entry in os.listdir(evdir):
        p = os.path.join(evdir, entry)
        if os.path.isdir(p):  # Spark 4 rolling event-log directory
            logs.extend(os.path.join(p, f) for f in sorted(os.listdir(p))
                        if f.startswith("events_"))
        else:
            logs.append(p)
    stages = summarize_events(logs, only_desc=f"{name} rep{reps - 1}")
    stages = [s for s in stages if s.get("task_ms")]
    stages.sort(key=lambda s: -(s.get("task_ms") or 0))
    print(json.dumps({"query": name, "times": times}))
    hdr = ("stage", "tasks", "wall_ms", "task_ms", "cpu_ms", "gc_ms",
           "fetch_ms", "input_mb", "sh_read_mb", "sh_write_mb", "spill_mb")
    print("\t".join(hdr))
    for s in stages[:25]:
        print("\t".join(str(round(s.get(k, 0), 1) if isinstance(s.get(k), float)
                            else s.get(k, 0)) for k in hdr[:-1])
              + "\t" + str(round(s.get("spill_mb", 0), 1)))
        print("    " + s.get("name", ""))


if __name__ == "__main__":
    main()
