"""Steadiness self-check for the benchmark.

    python3 perfbench/steady.py

For every workload it runs ``run.py`` (untraced) once for each of
SEEDS, one after another, and reports for each end-to-end metric the
median and the spread: the distance between the first and third
quartile of the values (``statistics.quantiles(values, n=4)``) as a
share of their median. It then runs SAME_SEED twice more and FRESH_SEED
(a seed not used while the benchmark was written) once, and compares
each of those values with the median of the seed runs. Every spread and
every difference, in either direction, must stay within the metric's
``bound`` in BENCHMARK.json. Writes the summary to
perfbench/.work/steady.json; exits 1 when a check fails.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = list(range(1, 11))
SAME_SEED = 1
FRESH_SEED = 104729


def run_once(spec: dict, workload: str, seed: int) -> dict:
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {out.returncode}:\n"
                           f"{out.stderr[-2000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    print(f"{workload} seed {seed}: {json.dumps(result)}", flush=True)
    return result


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    summary, ok = {}, True
    for workload in [w["name"] for w in spec["workloads"]]:
        runs = [run_once(spec, workload, seed) for seed in SEEDS]
        extra = {
            "same_seed": [run_once(spec, workload, SAME_SEED) for _ in range(2)],
            "fresh_seed": [run_once(spec, workload, FRESH_SEED)],
        }
        rows = {}
        for metric in spec["end_to_end"]:
            name, bound = metric["name"], metric["bound"]
            values = [r["metrics"][name]["value"] for r in runs]
            med = statistics.median(values)
            row = {"median": med, "spread": spread(values), "bound": bound,
                   "values": values}
            for label, group in extra.items():
                # signed: positive is higher than the median
                row[label] = [r["metrics"][name]["value"] / med - 1 for r in group]
            checked = [row["spread"], *(abs(d) for label in extra for d in row[label])]
            if max(checked) > bound:
                ok = False
            rows[name] = row
            shown = {k: (round(v, 4) if isinstance(v, float) else [round(d, 4) for d in v])
                     for k, v in row.items() if k != "values"}
            print(f"{workload} {name}: {shown}", flush=True)
        summary[workload] = {
            "metrics": rows,
            "failed": sum(r["failed"] for g in [runs, *extra.values()] for r in g),
        }
        if summary[workload]["failed"]:
            ok = False
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    with open(os.path.join(HERE, ".work", "steady.json"), "w", encoding="utf-8") as fh:
        json.dump(summary, fh, indent=1)
    print("steady" if ok else "NOT steady", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
