"""S3-S7: the document kernel stage, blank-node canonicalization, and
the end-to-end transcripts -> triples pipeline (SURVEY.md §7.0).

The flagship runs no Python: every turn's payload has one fixed shape
under PIPELINE_CONTEXT, so ``transcripts_to_triples`` emits its quads
as column expressions (extract.payload_quads), and Catalyst/AQE plan
the whole job. Arbitrary documents, and the ``jsonld_*`` transforms,
take the general path: one Arrow-batched ``mapInArrow`` stage running
the pure kernels (``docs_to_quads``; tree recursion is not expressible
in Catalyst), then ``canonicalize_bnodes``. That path is also the
reference the compiled flagship is tested against.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jsonld_spark.kernel.context import initial_context, process_context
from jsonld_spark.kernel.expand import expand_element
from jsonld_spark.kernel.nodemap import BlankNodeIssuer, build_node_map
from jsonld_spark.kernel.rdf import node_map_to_quads
from jsonld_spark.operators.extract import PIPELINE_CONTEXT, entity_triples, payload_quads
from jsonld_spark.sources.transcripts import transcripts_from_events

QUAD_COLUMNS = ["graph", "subject", "predicate", "obj_kind", "obj_value", "obj_type", "obj_lang"]
QUAD_SCHEMA = (
    "conv_id string, turn_idx int, graph string, subject string, predicate string, "
    "obj_kind string, obj_value string, obj_type string, obj_lang string"
)


def resolve_context(context: dict | None, base: str | None = None) -> dict:
    """Resolve a JSON-LD context once on the driver (S2). The resolved
    active context is a small dict, closure-captured into the kernel
    stage (Spark ships it once per task via the serialized closure,
    equivalent to an explicit broadcast at this size)."""
    activectx = initial_context(base)
    if context is not None:
        process_context(context, activectx, base_iri=base)
    return activectx


def docs_to_quads(
    docs: DataFrame,
    context: dict | None = PIPELINE_CONTEXT,
    base: str | None = None,
    generalized_rdf: bool = False,
    doc_col: str = "jsonld",
    parallelism: int | None = None,
) -> DataFrame:
    """S3+S4: per-document expand -> node map -> quads, exploded 1->N.

    Input needs (conv_id, turn_idx, <doc_col>); output one row per quad
    with lineage columns (conv_id, turn_idx) and document-local
    ``_:bN`` blank-node labels (deterministic per document).
    """
    from jsonld_spark.plans.session import ensure_package_shipped

    ensure_package_shipped(docs.sparkSession)
    activectx = resolve_context(context, base)

    def emit(batches):
        import pyarrow as pa

        from jsonld_spark.kernel.context import ActiveContext

        # re-wrap on the worker: the definition memo does not survive
        # pickling, and a warm memo is a ~1.3x kernel speedup
        ctx = ActiveContext(activectx)
        # columnar output buffers: building pyarrow arrays directly is
        # ~1.4x cheaper than pd.DataFrame(list-of-tuples) + pandas->Arrow
        names = ["conv_id", "turn_idx", *QUAD_COLUMNS]
        for batch in batches:
            conv_ids, turn_idxs, docs_col = (
                batch.column(0).to_pylist(),
                batch.column(1).to_pylist(),
                batch.column(2).to_pylist(),
            )
            cols = [[] for _ in names]
            for conv_id, turn_idx, doc in zip(conv_ids, turn_idxs, docs_col):
                if doc is None:
                    continue
                expanded = expand_element(json.loads(doc), ctx, None, False, None, base)
                if isinstance(expanded, dict) and len(expanded) == 1 and "@graph" in expanded:
                    expanded = expanded["@graph"]
                if not isinstance(expanded, list):
                    expanded = [] if expanded is None else [expanded]
                issuer = BlankNodeIssuer()
                node_map = build_node_map(expanded, issuer)
                for quad in node_map_to_quads(node_map, issuer, generalized_rdf):
                    cols[0].append(conv_id)
                    cols[1].append(turn_idx)
                    for i, value in enumerate(quad, start=2):
                        cols[i].append(value)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(cols[0], pa.string()),
                    pa.array(cols[1], pa.int32()),
                    *[pa.array(c, pa.string()) for c in cols[2:]],
                ],
                names=names,
            )

    # Column pruning: ship only the three needed columns into Arrow.
    # parallelism=0 means the caller already repartitioned for CPU
    # (e.g. to kernel_partitions); otherwise repartition here — AQE
    # sizes shuffle partitions by BYTES (64 MiB advisory), but this
    # stage's cost is per-row CPU, so a byte-small input would coalesce
    # to a handful of tasks and stop scaling with cores.
    pruned = docs.select("conv_id", "turn_idx", doc_col)
    if parallelism != 0:
        n_parts = parallelism or 2 * docs.sparkSession.sparkContext.defaultParallelism
        pruned = pruned.repartition(n_parts)
    return pruned.mapInArrow(emit, QUAD_SCHEMA)


ERROR_QUAD_SCHEMA = QUAD_SCHEMA + ", _error string"


def docs_to_quads_safe(
    docs: DataFrame,
    context: dict | None = PIPELINE_CONTEXT,
    base: str | None = None,
    generalized_rdf: bool = False,
    doc_col: str = "jsonld",
    parallelism: int | None = None,
) -> DataFrame:
    """Error-tolerant kernel stage: documents that fail to parse or
    expand produce one row with ``_error`` set to the spec error code
    instead of failing the job (the corrupt-record channel for the
    reference's parse/expansion error taxonomy, Processor.php:180-228;
    a 100 TB ingest quarantines bad documents, it doesn't die)."""
    from jsonld_spark.kernel.exceptions import JsonLdError
    from jsonld_spark.plans.session import ensure_package_shipped

    ensure_package_shipped(docs.sparkSession)
    activectx = resolve_context(context, base)

    def emit(batches):
        import pandas as pd

        from jsonld_spark.kernel.context import ActiveContext

        ctx = ActiveContext(activectx)
        nulls = (None,) * len(QUAD_COLUMNS)
        for pdf in batches:
            rows = []
            for conv_id, turn_idx, doc in zip(pdf["conv_id"], pdf["turn_idx"], pdf[doc_col]):
                if doc is None:
                    rows.append((conv_id, turn_idx) + nulls + ("missing document",))
                    continue
                try:
                    expanded = expand_element(json.loads(doc), ctx, None, False, None, base)
                except JsonLdError as exc:
                    rows.append((conv_id, turn_idx) + nulls + (exc.code,))
                    continue
                except ValueError:
                    rows.append((conv_id, turn_idx) + nulls + ("loading document failed",))
                    continue
                if isinstance(expanded, dict) and len(expanded) == 1 and "@graph" in expanded:
                    expanded = expanded["@graph"]
                if not isinstance(expanded, list):
                    expanded = [] if expanded is None else [expanded]
                issuer = BlankNodeIssuer()
                node_map = build_node_map(expanded, issuer)
                for quad in node_map_to_quads(node_map, issuer, generalized_rdf):
                    rows.append((conv_id, turn_idx) + quad + (None,))
            yield pd.DataFrame(
                rows, columns=["conv_id", "turn_idx"] + QUAD_COLUMNS + ["_error"]
            )

    pruned = docs.select("conv_id", "turn_idx", doc_col)
    if parallelism != 0:
        n_parts = parallelism or 2 * docs.sparkSession.sparkContext.defaultParallelism
        pruned = pruned.repartition(n_parts)
    return pruned.mapInPandas(emit, ERROR_QUAD_SCHEMA)


def _relabel(col, key):
    """'_:bN' -> '_:h<md5(conv/turn)>nN' — content-addressed, collision
    free (128-bit key), requiring NO shuffle and no coordination: the
    scale-correct analogue of URDNA2015-style deterministic relabeling.
    """
    c = F.col(col)
    return F.when(
        c.startswith("_:"),
        F.concat(F.lit("_:h"), key, F.lit("n"), F.expr(f"substring({col}, 4)")),
    ).otherwise(c)


def canonicalize_bnodes(quads: DataFrame) -> DataFrame:
    """S6 (hash mode): relabel document-local blank nodes to globally
    unique, input-order-independent labels derived from the stable
    (conv_id, turn_idx) key. Pure projection — zero shuffle; compare
    ``dense_bnode_labels`` in operators/canonicalize.py for the
    reference-parity ``_:bN`` dense numbering."""
    key = F.md5(F.concat_ws("/", "conv_id", "turn_idx"))
    out = quads.withColumn("subject", _relabel("subject", key)).withColumn("graph", _relabel("graph", key))
    return out.withColumn(
        "obj_value",
        F.when(F.col("obj_kind") == "iri", _relabel("obj_value", key)).otherwise(
            F.col("obj_value")
        ),
    )


TARGET_ROWS_PER_TASK = 16_000


def kernel_partitions(spark: SparkSession, n_rows: int | None = None) -> int:
    """Partition count for the CPU-bound kernel stages: scale
    with DATA (one task per ~TARGET_ROWS_PER_TASK turns) with a
    2x-cores floor for small inputs. Measured at 32 cores: at 100k
    turns the floor wins (per-task Python/Arrow setup dominates —
    2.65 s at 64 parts vs 4.1 s at 192); at 3.2M turns the data term
    wins decisively (47.7 s at 192 parts vs 87.8 s at 64 — balance and
    wave-granularity beat task overhead once tasks are seconds long).
    This is also the 100 TB story: partitions come from volume, never
    from a cores-only constant."""
    import math

    floor = 2 * spark.sparkContext.defaultParallelism
    if not n_rows:
        return floor
    return max(floor, math.ceil(n_rows / TARGET_ROWS_PER_TASK))


def transcripts_to_triples(
    transcripts: DataFrame,
    keep_lineage: bool = False,
    texts: DataFrame | None = None,
) -> DataFrame:
    """Full S1->S7: transcripts -> canonical deduplicated triples.

    Physical shape: one narrow stage after the transcript window's
    shuffle — a projection whose ``explode`` emits each turn's quads
    (extract.payload_quads, no document is built) — unioned with the
    corpus-level entity facts. The quad stream is unique by
    construction (every subject embeds the turn key, and each turn's
    facts are distinct), so it flows to the sink with NO global
    dropDuplicates; the only cross-turn repeats are the entity facts,
    emitted relationally by entity_triples() as a small distinct.

    ``keep_lineage`` returns the per-turn quads with their (conv_id,
    turn_idx) keys and without the entity facts.
    """
    quads = payload_quads(transcripts)
    if keep_lineage:
        return quads
    # entity facts need only text: a window-free text frame (when the
    # caller has one) skips the row_number shuffle on this branch
    entities = entity_triples(texts if texts is not None else transcripts)
    return quads.select(*QUAD_COLUMNS).unionByName(entities)


def kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship query: events-derived transcripts -> triple set."""
    from jsonld_spark.sources.transcripts import transcript_texts

    return transcripts_to_triples(
        transcripts_from_events(spark, sf_dir),
        texts=transcript_texts(spark, sf_dir),
    )


def nquads_lines(triples: DataFrame) -> DataFrame:
    """Serialize triples to N-Quads lines as pure column expressions
    (reference: NQuads.php:25-66 — bare ``_:`` bnodes, ``\\n``/``"``
    escaping, ^^type except implied xsd:string, @lang, optional graph).
    """
    xsd_string = "http://www.w3.org/2001/XMLSchema#string"

    def term(col):
        c = F.col(col)
        return F.when(c.startswith("_:"), c).otherwise(F.concat(F.lit("<"), c, F.lit(">")))

    escaped = F.regexp_replace(
        F.regexp_replace(F.col("obj_value"), F.lit("\n"), F.lit("\\\\n")),
        F.lit('"'),
        F.lit('\\\\"'),
    )
    obj = F.when(F.col("obj_kind") == "iri", term("obj_value")).otherwise(
        F.concat(
            F.lit('"'),
            escaped,
            F.lit('"'),
            F.when(F.col("obj_lang").isNotNull(), F.concat(F.lit("@"), F.col("obj_lang")))
            .when(
                F.col("obj_type").isNotNull() & (F.col("obj_type") != xsd_string),
                F.concat(F.lit("^^<"), F.col("obj_type"), F.lit(">")),
            )
            .otherwise(F.lit("")),
        )
    )
    line = F.concat(
        term("subject"),
        F.lit(" "),
        term("predicate"),
        F.lit(" "),
        obj,
        F.lit(" "),
        F.when(F.col("graph").isNotNull(), F.concat(term("graph"), F.lit(" "))).otherwise(
            F.lit("")
        ),
        F.lit("."),
    )
    return triples.select(line.alias("line"))
