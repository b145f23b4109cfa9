"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. It generates the workload's input from
the seed, drives the program in that checkout, checks its outputs
against the DuckDB oracles, and prints one JSON object as the last line
of standard output: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Everything it writes stays under
``perfbench/.work``. Exits non-zero, without a result, when the program
is missing or no pass of a leaf succeeds.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 175  # a run must end within 180 s


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def cold_setup(wl, input_dir: str, eventlog_dir: str | None = None):
    """One set-up in a fresh JVM: stop every process this run started,
    then launch the program's session and warm it up. Returns the
    session, the workload's leaves and the launch and warm-up seconds."""
    from workloads import start_session, stop_processes

    stop_processes()
    t0 = time.perf_counter()
    spark = start_session(eventlog_dir=eventlog_dir)
    t1 = time.perf_counter()
    leaves = wl.setup(spark, input_dir)
    return spark, leaves, t1 - t0, time.perf_counter() - t1


def prepare(wl, leaves, oracle, tally) -> None:
    """Check each leaf's output once, then run one untimed pass of it
    (the first noop pass after the check still runs measurably slower)."""
    from workloads import check_leaves, noop

    check_leaves(leaves, wl.leaves, oracle, tally)
    for name in wl.leaves:
        tally.run(f"{name} (warm-up)", lambda: noop(leaves.build(name)))


def untraced(wl, input_dir: str, seconds: float, oracle, tally) -> dict:
    """One cold set-up (``setup_s``), then the output check, one untimed
    pass and passes timed for ``seconds``."""
    from workloads import job_seconds, log, timed_window

    spark, leaves, launch, warm = cold_setup(wl, input_dir)
    log(f"set-up {launch + warm:.2f}s (launch {launch:.2f}s)")
    prepare(wl, leaves, oracle, tally)
    log("outputs checked, leaves warm")
    times = timed_window(leaves, wl.leaves, seconds, tally)
    log(f"passes {times}")
    spark.stop()
    return {"setup_s": launch + warm, "job_s": job_seconds(times)}


def traced(wl, input_dir: str, run_dir: str, seconds: float, seed: int,
           oracle, tally) -> dict:
    """One session in a fresh JVM with the event log on, prepared and
    timed like the last session of an untraced run (its ``job_s`` is
    ``trace.job_s``), then the layer sweep under spans and the event
    log, ending with the flagship at local[1]."""
    import layers
    from tracing import Spans, read_eventlog, stage_summary
    from workloads import (
        DOC_LEAVES,
        FLAGSHIP,
        QUERY_LEAVES,
        Leaves,
        check_leaves,
        job_seconds,
        log,
        noop,
        start_session,
        timed_window,
    )

    evdir = os.path.join(run_dir, "eventlog")
    os.makedirs(evdir)
    spark, leaves, launch, warm = cold_setup(wl, input_dir, eventlog_dir=evdir)
    metrics = {"session.start_s": launch, "session.warmup_s": warm}
    spans = Spans(spark.sparkContext)
    prepare(wl, leaves, oracle, tally)
    window = timed_window(leaves, wl.leaves, seconds, tally, spans)
    metrics["trace.job_s"] = job_seconds(window)
    log(f"traced window: job {metrics['trace.job_s']:.2f}s")

    prefix_t = {}
    for name, build in layers.flagship_prefixes(spark, input_dir).items():
        prefix_t[name] = tally.run(f"prefix:{name}", lambda: layers.timed(
            spans, f"prefix:{name}", lambda: noop(build()))[0])
    metrics.update(layers.prefix_metrics(prefix_t))
    metrics.update(layers.kernel_phases(spark, input_dir, seed))
    metrics.update(layers.context_phase(ROOT, tally))
    log("prefixes and kernel phases done")

    # the uncached flagship is checked before the triple cache exists:
    # Spark would otherwise answer the same plan from the cache. Outside
    # the window its timed pass is the full prefix.
    swept = [n for n in DOC_LEAVES if n not in window]
    leaf_t, counts = layers.leaf_sweep(leaves, swept, oracle, tally, spans)
    if FLAGSHIP not in window:
        check_leaves(leaves, [FLAGSHIP], oracle, tally)
        leaf_t[FLAGSHIP] = prefix_t["full"]
    leaves.build_caches(spans)
    metrics["graph.edges_build_s"] = spans.durations("cache:edges")[0]
    more_t, _ = layers.leaf_sweep(leaves, QUERY_LEAVES, oracle, tally, spans)
    leaf_t.update(more_t)
    leaf_t.update({name: statistics.median(ts) for name, ts in window.items() if ts})
    for leaf, metric in layers.LEAF_METRICS.items():
        metrics[metric] = leaf_t[leaf]
    if "kg_parse_errors" not in counts:
        counts["kg_parse_errors"] = layers.timed(
            spans, "count:kg_parse_errors", lambda: leaves.build("kg_parse_errors").count())[1]
    metrics["kg_queries.quarantined_share"] = counts["kg_parse_errors"] / wl.n_events
    log("leaf sweep done")
    metrics.update(layers.commit_path(spark, input_dir, run_dir, oracle, tally, spans, seed))
    log("commit path done")
    spark.stop()

    spark = start_session(cores=1, eventlog_dir=evdir)
    spans.sc = spark.sparkContext
    # the oracle check before the timed pass also starts the workers
    single, _ = layers.leaf_sweep(Leaves(spark, input_dir), [FLAGSHIP], oracle, tally,
                                  spans, prefix="local1:")
    spark.stop()
    log("local[1] leg done")
    # same input and output on both legs, so the throughput ratio is
    # the inverse ratio of pass times
    metrics["kg_pipeline.scaling_eff_1_4"] = single[FLAGSHIP] / (4 * leaf_t[FLAGSHIP])

    log = read_eventlog(evdir)
    metrics.update(layers.pipeline_counts(log))
    metrics.update(layers.commit_counts(log))
    cycles = min(len(ts) for ts in window.values())
    metrics.update(layers.spark_counts(log, wl.leaves, cycles))
    tag = f"{wl.name}-{seed}"
    spans.write(os.path.join(WORK, f"spans-{tag}.json"))
    with open(os.path.join(WORK, f"stages-{tag}.json"), "w", encoding="utf-8") as fh:
        json.dump({r["name"]: stage_summary(log, r["name"])
                   for r in spans.records}, fh, indent=1)
    return metrics


def _watchdog() -> None:
    """Past DEADLINE_S, kill every process this run started and exit
    without a result."""
    from tracing import descendants

    def fire():
        print(f"perfbench: run exceeded {DEADLINE_S}s, stopping", file=sys.stderr, flush=True)
        for pid in descendants():
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
        os._exit(3)

    timer = threading.Timer(DEADLINE_S, fire)
    timer.daemon = True
    timer.start()


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import jsonld_spark  # noqa: F401
        spec = _load_spec()
    except (ImportError, OSError) as exc:
        print(f"perfbench: no program to measure in {ROOT}: {exc}", file=sys.stderr)
        return 2

    from workloads import WORKLOADS, Tally, Workload, stop_processes

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    import gen
    from oracle import Oracle
    from tracing import RssSampler

    _watchdog()
    # a terminated run still stops the processes it started (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # keep every file Spark, the JVM and the Python workers write
    # inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # (the JVM's perf-data file would go to /tmp whatever tmpdir says)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.chdir(run_dir)

    wl = Workload(args.workload)
    input_dir = os.path.join(run_dir, "input")
    table = gen.write_events(input_dir, wl.n_events, wl.shape, args.seed)
    from jsonld_spark.sources.entities import N_ENTITIES

    print(f"perfbench: input {json.dumps(gen.shares(table, N_ENTITIES))}", file=sys.stderr)
    oracle = Oracle(input_dir)

    tally = Tally()
    try:
        if args.trace:
            with RssSampler() as rss:
                values = traced(wl, input_dir, run_dir, args.seconds, args.seed,
                                oracle, tally)
            values["session.peak_rss_mb"] = rss.peak_mb
        else:
            values = untraced(wl, input_dir, args.seconds, oracle, tally)
            values["docs_per_s"] = wl.n_events * len(wl.leaves) / values["job_s"]
    finally:
        stop_processes()
        oracle.close()
    os.chdir(ROOT)
    shutil.rmtree(run_dir, ignore_errors=True)

    section = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[section]}
    missing = sorted(set(units) - set(values))
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    for name, unit in units.items():
        print(f"perfbench: {name} = {values[name]:.6g} {unit}", file=sys.stderr)
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {name: {"value": values[name], "unit": unit}
                    for name, unit in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
