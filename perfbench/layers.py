"""The traced run's layer sweep.

Every traced run measures every layer on its own workload's input, so
each per-layer metric exists for both workloads. Spans are taken here,
around calls into each layer; the Spark event log, cut along the same
span names, supplies stage, shuffle, spill, skew, GC and plan-shape
numbers.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time

from tracing import kernel_stages, plan_counts, stage_summary
from workloads import FLAGSHIP, check_leaves, noop

COMMIT_BUCKETS = 2   # the crash comes after 1 of these bucket commits
LOOKUPS = 5          # seeded subjects for lookup_subject
KERNEL_SAMPLE = 200  # payload documents timed in-process
KERNEL_LOOPS = 3     # in-process timings are the median of these loops

LEAF_METRICS = {
    "kg_nquads": "kg_pipeline.nquads_s",
    "kg_pagerank": "graph.pagerank_s",
    "kg_khop_reach": "graph.khop_s",
    "kg_frame_tool_turn_subgraph": "frame_query.tool_turn_subgraph_s",
    "kg_path_conv_resources": "paths.conv_resources_s",
    "jsonld_expand_docs": "jsonld_ops.expand_s",
    "jsonld_flatten_docs": "jsonld_ops.flatten_s",
    "jsonld_compact_docs": "jsonld_ops.compact_s",
    "kg_parse_errors": "kg_queries.parse_errors_s",
}


def timed(spans, name: str, fn):
    with spans.span(name):
        start = time.perf_counter()
        out = fn()
        return time.perf_counter() - start, out


def flagship_prefixes(spark, input_dir: str) -> dict:
    """Cumulative noop-sink prefixes of the flagship, in pipeline order,
    built from the same public functions ``kg_triples`` composes."""
    from jsonld_spark.operators.extract import entity_triples, with_payload
    from jsonld_spark.operators.kg_pipeline import (
        canonicalize_bnodes,
        docs_to_quads,
        kernel_partitions,
        kg_triples,
    )
    from jsonld_spark.plans.session import read_table
    from jsonld_spark.sources.transcripts import transcript_texts, transcripts_from_events

    n_rows = read_table(spark, input_dir, "events").count()

    def parted():
        return transcripts_from_events(spark, input_dir).repartition(
            kernel_partitions(spark, n_rows))

    def quads():
        return docs_to_quads(with_payload(parted()), parallelism=0)

    return {
        "scan": lambda: read_table(spark, input_dir, "events"),
        "window": parted,
        "payload": lambda: with_payload(parted()),
        "kernel": quads,
        "relabel": lambda: canonicalize_bnodes(quads()),
        "entity_facts": lambda: entity_triples(transcript_texts(spark, input_dir)),
        "full": lambda: kg_triples(spark, input_dir),
    }


def prefix_metrics(t: dict) -> dict:
    """Self times from cumulative prefix times. The entity-fact branch
    shares only the scan with the document branch. The two branches'
    stages overlap in time, so the full job takes at least as long as
    its longer branch; union_s is what it costs beyond that."""
    return {
        "transcripts.scan_s": t["scan"],
        "transcripts.window_s": t["window"] - t["scan"],
        "extract.payload_s": t["payload"] - t["window"],
        "kg_pipeline.kernel_s": t["kernel"] - t["payload"],
        "kg_pipeline.relabel_s": t["relabel"] - t["kernel"],
        "extract.entity_facts_s": t["entity_facts"] - t["scan"],
        "kg_pipeline.union_s": t["full"] - max(t["relabel"], t["entity_facts"]),
    }


def kernel_phases(spark, input_dir: str, seed: int) -> dict:
    """Per-document µs of each kernel phase, single thread, in this
    process, on a seeded sample of the workload's payloads."""
    from jsonld_spark.kernel.compaction import compact_element, create_inverse_context
    from jsonld_spark.kernel.context import ActiveContext
    from jsonld_spark.kernel.expand import expand_element
    from jsonld_spark.kernel.nodemap import BlankNodeIssuer, build_node_map
    from jsonld_spark.kernel.rdf import node_map_to_quads
    from jsonld_spark.operators.extract import PIPELINE_CONTEXT, with_payload
    from jsonld_spark.operators.kg_pipeline import resolve_context
    from jsonld_spark.sources.transcripts import transcripts_from_events

    docs = [r.jsonld for r in with_payload(transcripts_from_events(spark, input_dir))
            .select("conv_id", "turn_idx", "jsonld").orderBy("conv_id", "turn_idx")
            .collect()]
    sample = random.Random(seed).sample(docs, min(KERNEL_SAMPLE, len(docs)))
    activectx = resolve_context(PIPELINE_CONTEXT)
    compact_ctx = resolve_context(dict(PIPELINE_CONTEXT))
    inversectx = create_inverse_context(dict(compact_ctx))

    def unwrap(expanded):
        if isinstance(expanded, dict) and len(expanded) == 1 and "@graph" in expanded:
            expanded = expanded["@graph"]
        if not isinstance(expanded, list):
            expanded = [] if expanded is None else [expanded]
        return expanded

    phases: dict[str, list[float]] = {}
    n_quads = 0
    for _ in range(KERNEL_LOOPS):
        ctx = ActiveContext(activectx)
        clock = dict.fromkeys(["json_loads", "expand", "nodemap", "tordf", "compact"], 0.0)
        n_quads = 0
        for doc in sample:
            t0 = time.perf_counter()
            parsed = json.loads(doc)
            t1 = time.perf_counter()
            expanded = unwrap(expand_element(parsed, ctx, None, False, None, None))
            t2 = time.perf_counter()
            issuer = BlankNodeIssuer()
            node_map = build_node_map(expanded, issuer)
            t3 = time.perf_counter()
            n_quads += len(list(node_map_to_quads(node_map, issuer, False)))
            t4 = time.perf_counter()
            compact_element(expanded, compact_ctx, inversectx, None, True)
            t5 = time.perf_counter()
            for key, dt in zip(clock, (t1 - t0, t2 - t1, t3 - t2, t4 - t3, t5 - t4)):
                clock[key] += dt
        for key, total in clock.items():
            phases.setdefault(key, []).append(total / len(sample) * 1e6)
    out = {f"kernel.{k}_us": statistics.median(v) for k, v in phases.items()}
    out["kg_pipeline.quads_per_doc"] = n_quads / len(sample)
    return out


def context_phase(root: str, tally) -> dict:
    """µs per ``process_context`` on the conformance toRdf inputs that
    carry inline contexts; each case's N-Quads must equal its golden."""
    from jsonld_spark.kernel import api
    from jsonld_spark.kernel.context import initial_context, process_context

    fixtures = os.path.join(root, "tests", "w3c")
    with open(os.path.join(fixtures, "manifest-toRdf.jsonld"), encoding="utf-8") as fh:
        manifest = json.load(fh)
    cases = []
    for entry in manifest["sequence"]:
        with open(os.path.join(fixtures, entry["input"]), encoding="utf-8") as fh:
            text = fh.read()
        doc = json.loads(text)
        nodes = doc if isinstance(doc, list) else [doc]
        contexts = [n["@context"] for n in nodes if isinstance(n, dict) and "@context" in n]
        if not contexts or not all(isinstance(c, (dict, list)) for c in contexts):
            continue
        base = manifest["baseIri"] + os.path.basename(entry["input"])
        cases.append((entry, text, contexts, base))
    for entry, text, _, base in cases:
        tally.attempted += 1
        with open(os.path.join(fixtures, entry["expect"]), encoding="utf-8") as fh:
            golden = {line for line in fh.read().split("\n") if line.strip()}
        opts = entry.get("option", {})
        actual = {line for line in api.to_rdf(
            text, base=base,
            produce_generalized_rdf=opts.get("produceGeneralizedRdf", False)).split("\n")
            if line.strip()}
        if actual != golden:
            tally.fail(f"toRdf {entry['@id']} differs from its golden")
    loops, per_loop = [], max(1, 2000 // max(1, len(cases)))
    for _ in range(KERNEL_LOOPS):
        start = time.perf_counter()
        for _ in range(per_loop):
            for _, _, contexts, base in cases:
                for ctx in contexts:
                    process_context(ctx, initial_context(base), base_iri=base)
        n = per_loop * sum(len(c[2]) for c in cases)
        loops.append((time.perf_counter() - start) / n * 1e6)
    return {"kernel.context_us": statistics.median(loops)}


def leaf_sweep(leaves, names: list[str], oracle, tally, spans,
               prefix: str = "sweep:") -> tuple[dict, dict]:
    """Check each leaf against its oracle (which also warms it), then
    time one noop pass; returns (leaf -> seconds, leaf -> rows)."""
    counts = check_leaves(leaves, names, oracle, tally)
    out = {}
    for name in names:
        t = tally.run(f"{prefix}{name}", lambda: timed(
            spans, f"{prefix}{name}", lambda: noop(leaves.build(name)))[0])
        if t is not None:
            out[name] = t
    return out, counts


def commit_path(spark, input_dir: str, run_dir: str, oracle, tally, spans,
                seed: int) -> dict:
    """A crash after 1 of COMMIT_BUCKETS bucket commits and its resume,
    an uninterrupted table beside it, the read-back, seeded point
    lookups and the bytes on disk. Both tables must equal the
    ``kg_triples`` oracle; each lookup must equal the oracle's rows for
    its subject."""
    import __spark_entry__
    from jsonld_spark.streaming.resume import lookup_subject, read_triples, run_resumable

    from oracle import mismatch, spark_rows

    crashed = os.path.join(run_dir, "table_crash")
    full = os.path.join(run_dir, "table_full")
    timed(spans, "commit:crash", lambda: run_resumable(
        spark, input_dir, crashed, n_buckets=COMMIT_BUCKETS, fail_after=1))
    t_resume, _ = timed(spans, "commit:resume", lambda: run_resumable(
        spark, input_dir, crashed, n_buckets=COMMIT_BUCKETS))
    t_full, _ = timed(spans, "commit:full", lambda: run_resumable(
        spark, input_dir, full, n_buckets=COMMIT_BUCKETS))
    t_read, _ = timed(spans, "commit:read", lambda: noop(read_triples(spark, full)))

    expected = oracle.rows(__spark_entry__.oracle_sql()[FLAGSHIP])
    tally.attempted += 2
    got_full = spark_rows(read_triples(spark, full))
    diff = mismatch(got_full, expected)
    if diff:
        tally.fail(f"committed table does not match the kg_triples oracle: {diff}")
    diff = mismatch(spark_rows(read_triples(spark, crashed)), got_full)
    if diff:
        tally.fail(f"crash-then-resume table differs from the uninterrupted one: {diff}")

    cols, rows = expected
    s_idx = cols.index("subject")
    subjects = sorted({r[s_idx] for r in rows if not r[s_idx].startswith("_:")})
    picks = random.Random(seed).sample(subjects, min(LOOKUPS, len(subjects)))
    lookups = []
    for subject in picks:
        tally.attempted += 1
        t, got = timed(spans, "commit:lookup",
                        lambda: spark_rows(lookup_subject(spark, full, subject)))
        lookups.append(t)
        diff = mismatch(got, (cols, [r for r in rows if r[s_idx] == subject]))
        if diff:
            tally.fail(f"lookup_subject({subject}) does not match the oracle: {diff}")

    size, files = 0, 0
    for sub in ("data", "lineage"):
        for dirpath, _, fnames in os.walk(os.path.join(full, sub)):
            for fname in fnames:
                size += os.path.getsize(os.path.join(dirpath, fname))
                files += fname.endswith(".parquet")
    return {
        "resume.bucket_s": t_full / COMMIT_BUCKETS,
        "resume.resume_s": t_resume,
        "resume.read_s": t_read,
        "resume.lookup_s": statistics.median(lookups),
        "tables.files_written": files,
        "tables.bytes_per_triple": size / len(got_full[1]),
    }


def commit_counts(log: dict) -> dict:
    """Write times and kernel passes of the uninterrupted commit, from
    the event log: per bucket, the data write comes first and the
    lineage write second."""
    execs = sorted((ex for ex in log["execs"].values() if ex["desc"] == "commit:full"),
                   key=lambda ex: ex["start"])
    writes = [ex for ex in execs if plan_counts(ex["nodes"])["writes"]]
    data, lineage = writes[0::2], writes[1::2]

    def median_s(group):
        return statistics.median((ex["end"] - ex["start"]) / 1000 for ex in group) if group else 0.0

    kernel_passes = sum(1 for ex in execs if plan_counts(ex["nodes"])["kernel_nodes"])
    return {
        "tables.data_write_s": median_s(data),
        "tables.lineage_write_s": median_s(lineage),
        "resume.kernel_passes_per_bucket": kernel_passes / COMMIT_BUCKETS,
    }


def pipeline_counts(log: dict) -> dict:
    """Kernel-stage tasks and skew, and Python nodes in the final plan,
    of the full flagship prefix."""
    stages = kernel_stages(log, "prefix:full")
    run_ms = [t["run_ms"] for st in stages for t in st["tasks"]]
    med = statistics.median(run_ms) if run_ms else 0
    python_nodes = sum(plan_counts(ex["nodes"])["python_nodes"]
                       for ex in log["execs"].values() if ex["desc"] == "prefix:full")
    return {
        "kg_pipeline.kernel_tasks": len(run_ms),
        "kg_pipeline.kernel_task_skew": max(run_ms) / med if med else 0.0,
        "kg_pipeline.python_nodes": python_nodes,
    }


def spark_counts(log: dict, leaves: list[str], cycles: int) -> dict:
    """Per-pass totals over the traced window's passes (each pass of a
    leaf runs under a span named after the leaf)."""
    total: dict = {}
    skew = 1.0
    for name in leaves:
        summary = stage_summary(log, name)
        skew = max(skew, summary["task_skew"])
        for key, value in summary.items():
            total[key] = total.get(key, 0) + value
    return {
        "spark.stages": total["stages"] / cycles,
        "spark.shuffle_write_mb": total["shuffle_write_mb"] / cycles,
        "spark.shuffle_read_mb": total["shuffle_read_mb"] / cycles,
        "spark.spill_mb": total["spill_mb"] / cycles,
        "spark.task_skew": skew,
        "spark.gc_share": total["gc_ms"] / total["run_ms"] if total["run_ms"] else 0.0,
        "spark.exchanges": total.get("exchanges", 0) / cycles,
        "spark.reused_exchanges": total.get("reused_exchanges", 0) / cycles,
        "spark.cache_scans": total.get("cache_scans", 0) / cycles,
    }

