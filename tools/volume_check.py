"""Replicated-corpus volume check for the documents/embeddings ops.

Replicates the sf-dir documents table DOC_REPS times (doc_id offset
10^7 per replica — divisible by every planted mod-schedule, so the
PII/decontamination/langid fixtures keep their density) and the
embeddings table EMB_REPS times (replicas shifted +1, which ROTATES
the residue class: replica copies of residue-6 originals become eval
items, so the contamination eval set grows with the corpus — 50 ->
1,600 items at 32x, making the sweep a deliberately harder 102M-pair
check; the recorded BENCH/BASELINE.md numbers use exactly this
construction), writes them to a scratch dir, and times the curation
operators end-to-end. This check caught two plan bugs invisible at
sf0.1 (see BENCH/BASELINE.md "Volume check" section): scale evidence
is only evidence if the job actually runs at scale.

Usage: python tools/volume_check.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from jsonld_spark.plans.session import get_spark, require_io_codec

DOC_REPS = 128
EMB_REPS = 32
EVENT_REPS = 32
OFFSET = 10**7


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/volume_check_corpus"
    # replicated-corpus jobs spill; zstd's spill ratio is what lets
    # them fit the sandbox disk (see plans/session.py codec note)
    os.environ.setdefault("SPARK_GRAFT_IO_CODEC", "zstd")
    spark = get_spark(app_name="volume-check", cores=32,
                      shuffle_partitions=64)
    require_io_codec(spark)

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    rep = spark.range(DOC_REPS).select(F.col("id").alias("r"))
    big = docs.crossJoin(rep).select(
        (F.col("doc_id") + F.col("r") * OFFSET).alias("doc_id"),
        "text", "lang", "source", "n_chars")
    big.write.mode("overwrite").parquet(f"{out}/documents.parquet")

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    rep2 = spark.range(EMB_REPS).select(F.col("id").alias("r"))
    bigemb = emb.crossJoin(rep2).select(
        F.when(F.col("r") == 0, F.col("vec_id"))
         .otherwise(F.col("vec_id") + F.col("r") * OFFSET + 1)
         .alias("vec_id"),
        "embedding")
    bigemb.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    # r6 (VERDICT r5 #2): the events table too — the as-of/range
    # interval joins, boilerplate removal, and the k-core graph all
    # derive from events and had never run above sf0.1. user_id is
    # offset per replica so per-user event sequences (the window keys)
    # multiply instead of interleaving.
    ev = spark.read.parquet(f"{sf}/events.parquet")
    rep3 = spark.range(EVENT_REPS).select(F.col("id").alias("r"))
    bigev = ev.crossJoin(rep3).select(
        (F.col("event_id") + F.col("r") * OFFSET).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("r") * OFFSET).alias("user_id"),
        "event_type", "value", "props")
    bigev.write.mode("overwrite").parquet(f"{out}/events.parquet")

    # count the WRITTEN files (parquet footer metadata, nearly free) —
    # counting big/bigemb would re-run the replication crossJoins
    n_docs = spark.read.parquet(f"{out}/documents.parquet").count()
    n_vecs = spark.read.parquet(f"{out}/embeddings.parquet").count()
    n_ev = spark.read.parquet(f"{out}/events.parquet").count()
    print(f"corpus written: {n_docs} docs ({DOC_REPS}x), "
          f"{n_vecs} vectors ({EMB_REPS}x), {n_ev} events ({EVENT_REPS}x)")

    from jsonld_spark.operators import (
        dedup, graph, interval, relational, scratch, search, similarity,
        sketch, suites, text,
    )
    from jsonld_spark.operators.kg_pipeline import kg_triples

    cases = [
        ("decontaminate", lambda: dedup.decontaminate(spark, out)),
        ("token_budget_mix", lambda: relational.token_budget_mix(spark, out)),
        ("bm25_topk", lambda: search.bm25_topk(spark, out)),
        ("count_min", lambda: sketch.corpus_token_count_min(spark, out)),
        ("text_stats_suite", lambda: suites.text_stats_suite(spark, out)),
        ("embedding_contamination",
         lambda: similarity.embedding_contamination(spark, out)),
        # r6 additions (VERDICT r5 #2): the round-5 ops that had never
        # run above sf0.1
        ("unigram_surprisal", lambda: text.unigram_surprisal(spark, out)),
        ("as_of_join", lambda: interval.asof_event_profiles(spark, out)),
        ("binned_range_join", lambda: interval.events_in_windows(spark, out)),
        ("boilerplate_suite", lambda: text.boilerplate_suite(spark, out)),
        # NOTE: the pair-emitting dedup ops (minhash/simhash/jaccard)
        # are deliberately absent: a 128x-replicated corpus makes
        # EVERY doc a 128-way duplicate, so the output itself is
        # O(replicas^2 x docs) — the blowup is in the answer, not the
        # plan. Their skew behavior is covered by the planted tests.
    ]
    for name, fn in cases:
        with scratch.scope():
            t0 = time.monotonic()
            n = fn().count()
            dt = time.monotonic() - t0
        print(f"{name}: {n} rows in {dt:.1f}s", flush=True)

    # k-core over the EVENT_REPS-replicated triple graph (the full
    # kernel pipeline runs first — its cost is reported separately so
    # the kcore number stands alone)
    with scratch.scope():
        t0 = time.monotonic()
        tri = kg_triples(spark, out).cache()
        edges = graph.iri_edges(tri).cache()
        n_edges = edges.count()
        dt = time.monotonic() - t0
        print(f"edge_build: {n_edges} edges in {dt:.1f}s", flush=True)
        t0 = time.monotonic()
        n = graph.kcore_nodes(edges).count()
        dt = time.monotonic() - t0
        print(f"kcore_nodes: {n} rows in {dt:.1f}s", flush=True)
        tri.unpersist(); edges.unpersist()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
