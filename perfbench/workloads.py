"""The two benchmark workloads and the steps both share.

Load shape: one client in a closed loop. This process drives a single
``local[4]`` session built by ``plans.session.get_spark`` with the
program's defaults and runs passes back to back, each starting when the
previous one has fully materialised (noop sink, all columns).

* ``kg_build``: the flagship ``kg_triples`` over events with the sf
  shape (uniform conversation lengths). A change to the Arrow kernel
  stage or a Python-free flagship shows here; at 4,000 events per-job
  overhead dominates, so it shows diluted (about a third of a pass is
  the kernel stage).
* ``doc_transforms``: the per-document JSON-LD transforms (expand,
  flatten, compact) and the quarantine path (``kg_parse_errors``) over
  the same payload shape, on events with Zipf conversation lengths (a
  few hub conversations skew the ``row_number`` window). These run the
  general tree walk through ``mapInPandas``; a Python-free flagship
  bypasses them, so it must leave this workload alone.

The query leaves and the commit path are measured layer by layer in
every traced run (see layers.py).
"""

from __future__ import annotations

import itertools
import os
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

T0 = time.monotonic()
CORES = 4
WARMUP_DOCS = 64     # documents in the set-up's kernel warm-up job
# the first timed pass of a leaf still runs slower than later ones, so a
# median over two passes would lean on it
MIN_CYCLES = 3

FLAGSHIP = "kg_triples"
# query leaves over the triple and edge caches, timed in traced runs
QUERY_LEAVES = [
    "kg_nquads",
    "kg_pagerank",
    "kg_khop_reach",
    "kg_frame_tool_turn_subgraph",
    "kg_path_conv_resources",
]
DOC_LEAVES = ["jsonld_expand_docs", "jsonld_flatten_docs", "jsonld_compact_docs",
              "kg_parse_errors"]

# name -> (conversation-length shape, input events)
WORKLOADS = {
    "kg_build": ("uniform", 4000),
    "doc_transforms": ("zipf", 2000),
}


def log(msg: str) -> None:
    print(f"perfbench: [{time.monotonic() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def start_session(cores: int = CORES, eventlog_dir: str | None = None):
    """The program's own session, optionally with an event log. Fails
    if the session did not take the requested core count (getOrCreate
    keeps the confs of a session that is still alive)."""
    from jsonld_spark.plans.session import get_spark

    conf = None
    if eventlog_dir is not None:
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
    sc = spark.sparkContext
    if sc.master != f"local[{cores}]" or sc.defaultParallelism != cores:
        raise RuntimeError(
            f"asked for local[{cores}], session runs {sc.master} "
            f"with parallelism {sc.defaultParallelism}")
    if eventlog_dir is not None and sc.getConf().get("spark.eventLog.enabled") != "true":
        raise RuntimeError("the session was started without its event log")
    sc.setLogLevel("ERROR")
    return spark


def stop_processes() -> None:
    """Stop the gateway JVM pyspark launched and wait until it and every
    other process this run started has ended."""
    from tracing import descendants

    pids = descendants()
    _shutdown_jvm()
    deadline = time.monotonic() + 30
    for sig in (15, 9):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while time.monotonic() < deadline and any(_alive(pid) for pid in pids):
            time.sleep(0.1)
        if not any(_alive(pid) for pid in pids):
            return
        deadline = time.monotonic() + 10


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _shutdown_jvm() -> None:
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, input_dir: str) -> None:
    """Start the Python workers and ship the package: a small slice of
    payload documents through the kernel stage."""
    from jsonld_spark.operators.extract import with_payload
    from jsonld_spark.operators.kg_pipeline import docs_to_quads
    from jsonld_spark.sources.transcripts import transcripts_from_events

    docs = with_payload(transcripts_from_events(spark, input_dir).limit(WARMUP_DOCS))
    docs_to_quads(docs).count()


class Leaves:
    """The query registry of ``__spark_entry__`` bound to one session
    and input. Its triple and edge caches are the caches a user of the
    query surface builds once."""

    def __init__(self, spark, input_dir: str):
        import __spark_entry__

        self.spark = spark
        self.input_dir = input_dir
        self.registry = __spark_entry__.queries()

    def build(self, name: str):
        """The leaf's DataFrame. The flagship is built uncached: the
        registry's ``kg_triples`` entry is the cache the query leaves
        share."""
        if name == FLAGSHIP:
            from jsonld_spark.operators.kg_pipeline import kg_triples

            return kg_triples(self.spark, self.input_dir)
        return self.registry[name](self.spark, self.input_dir)

    def build_caches(self, spans=None) -> None:
        """Materialise the triple cache, then the shared edge cache
        through its cheapest consumer. Once the triple cache exists,
        Spark answers the flagship's plan from it."""
        with _span(spans, "cache:triples"):
            self.registry[FLAGSHIP](self.spark, self.input_dir).count()
        with _span(spans, "cache:edges"):
            self.build("kg_degree_histogram").count()


def _span(spans, name: str):
    return nullcontext() if spans is None else spans.span(name)


class Workload:
    """One workload: its leaves, timed in order (one cycle of them is
    one pass), and its input."""

    def __init__(self, name: str):
        self.name = name
        self.shape, self.n_events = WORKLOADS[name]

    @property
    def leaves(self) -> list[str]:
        return [FLAGSHIP] if self.name == "kg_build" else DOC_LEAVES

    def setup(self, spark, input_dir: str) -> Leaves:
        warm_up(spark, input_dir)
        return Leaves(spark, input_dir)


class Tally:
    """Attempted and failed operations of one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def run(self, what: str, fn):
        """Run ``fn``; an exception counts as a failed operation."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 - the run goes on and reports it
            traceback.print_exc()
            self.fail(what)
            return None


def check_leaves(leaves: Leaves, names: list[str], oracle, tally: Tally) -> dict:
    """Collect each leaf once and compare it with its DuckDB oracle
    (outside any timed section); returns each leaf's row count."""
    import __spark_entry__

    from oracle import mismatch, spark_rows

    sqls = __spark_entry__.oracle_sql()
    counts = {}
    for leaf in names:
        actual = tally.run(f"{leaf} (check)", lambda: spark_rows(leaves.build(leaf)))
        if actual is None:
            continue
        counts[leaf] = len(actual[1])
        diff = mismatch(actual, oracle.rows(sqls[leaf]))
        if diff:
            tally.fail(f"{leaf} does not match its oracle: {diff}")
    return counts


def timed_window(leaves: Leaves, names: list[str], seconds: float, tally: Tally,
                 spans=None) -> dict[str, list[float]]:
    """Closed loop: run the cycle of leaves back to back until
    ``seconds`` have passed and at least MIN_CYCLES whole cycles have
    run; returns each leaf's pass times."""
    times: dict[str, list[float]] = {name: [] for name in names}
    deadline = time.perf_counter() + seconds
    for cycle in itertools.count(1):
        for name in names:
            start = time.perf_counter()
            with _span(spans, name):
                ok = tally.run(name, lambda: noop(leaves.build(name)) or True)
            if ok:
                times[name].append(time.perf_counter() - start)
        if cycle >= MIN_CYCLES and time.perf_counter() >= deadline:
            return times


def job_seconds(times: dict[str, list[float]]) -> float:
    """One pass: the sum over leaves of each leaf's median time."""
    missing = [name for name, ts in times.items() if not ts]
    if missing:
        raise RuntimeError(f"no successful pass of {missing}")
    return sum(statistics.median(ts) for ts in times.values())
