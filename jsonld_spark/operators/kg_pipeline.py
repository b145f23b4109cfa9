"""S3-S7: the document kernel stage, blank-node canonicalization, and
the end-to-end transcripts -> triples pipeline (SURVEY.md §7.0).

The flagship runs no Python: every turn's payload has one fixed shape
under PIPELINE_CONTEXT, so ``transcripts_to_triples`` emits its quads
as column expressions (extract.payload_quads), and Catalyst/AQE plan
the whole job. Arbitrary documents take the general path, as do the
``jsonld_*`` transforms and the quarantine channel: ``kernel_stage``,
one Arrow-batched ``mapInArrow`` running a pure per-document kernel
(tree recursion is not expressible in Catalyst); ``docs_to_quads`` is
followed by ``canonicalize_bnodes``. That path is also the reference
the compiled flagship is tested against.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jsonld_spark.kernel.api import expand_with
from jsonld_spark.kernel.context import initial_context, process_context
from jsonld_spark.kernel.exceptions import JsonLdError
from jsonld_spark.kernel.rdf import expanded_to_quads
from jsonld_spark.operators.extract import PIPELINE_CONTEXT, entity_triples, payload_quads
from jsonld_spark.sources.transcripts import transcripts_from_events

QUAD_COLUMNS = ["graph", "subject", "predicate", "obj_kind", "obj_value", "obj_type", "obj_lang"]
QUAD_SCHEMA = (
    "conv_id string, turn_idx int, graph string, subject string, predicate string, "
    "obj_kind string, obj_value string, obj_type string, obj_lang string"
)
ERROR_QUAD_SCHEMA = QUAD_SCHEMA + ", _error string"


def resolve_context(context: dict | None, base: str | None = None) -> dict:
    """Resolve a JSON-LD context once on the driver (S2). The resolved
    active context is a small dict, closure-captured into the kernel
    stage (Spark ships it once per task via the serialized closure,
    equivalent to an explicit broadcast at this size) and used as-is on
    workers: pickling keeps its definition memo."""
    activectx = initial_context(base)
    if context is not None:
        process_context(context, activectx, base_iri=base)
    return activectx


def kernel_stage(docs: DataFrame, per_doc, schema: str, n_parts: int) -> DataFrame:
    """The one per-document kernel stage: ``per_doc(conv_id, turn_idx,
    doc)`` returns the output rows (tuples in ``schema`` order) of one
    ``jsonld`` string, run in one ``mapInArrow`` over (conv_id,
    turn_idx, jsonld) that builds the Arrow output directly.

    ``n_parts`` > 0 repartitions first; 0 means the caller already did.
    AQE sizes shuffle partitions by BYTES, but this stage's cost is
    per-row CPU, so a byte-small input would coalesce to a handful of
    tasks and stop scaling with cores (see kernel_partitions).
    """
    import pyarrow as pa

    from jsonld_spark.plans.session import ensure_package_shipped

    ensure_package_shipped(docs.sparkSession)
    arrow_types = {"string": pa.string(), "int": pa.int32()}
    row_type = pa.struct([
        (name, arrow_types[kind]) for name, kind in (f.split() for f in schema.split(","))
    ])

    def run(batches):
        for batch in batches:
            rows = []
            for conv_id, turn_idx, doc in zip(*(c.to_pylist() for c in batch.columns)):
                rows.extend(per_doc(conv_id, turn_idx, doc))
            # one struct array from the row tuples: ~1.3x cheaper than
            # appending each value to a per-column list
            yield pa.RecordBatch.from_struct_array(pa.array(rows, row_type))

    pruned = docs.select("conv_id", "turn_idx", "jsonld")
    if n_parts:
        pruned = pruned.repartition(n_parts)
    return pruned.mapInArrow(run, schema)


def docs_to_quads(
    docs: DataFrame,
    context: dict | None = PIPELINE_CONTEXT,
    base: str | None = None,
    parallelism: int | None = None,
) -> DataFrame:
    """S3+S4: per-document expand -> node map -> quads, exploded 1->N.

    Input needs (conv_id, turn_idx, jsonld); output one row per quad
    with lineage columns (conv_id, turn_idx) and document-local
    ``_:bN`` blank-node labels (deterministic per document). Null
    documents emit nothing. ``parallelism`` is the kernel_stage
    partition count (default kernel_partitions; 0: already partitioned).
    """
    activectx = resolve_context(context, base)

    def per_doc(conv_id, turn_idx, doc):
        if doc is None:
            return ()
        expanded = expand_with(json.loads(doc), activectx, base)
        return [(conv_id, turn_idx, *quad) for quad in expanded_to_quads(expanded)]

    if parallelism is None:
        parallelism = kernel_partitions(docs.sparkSession)
    return kernel_stage(docs, per_doc, QUAD_SCHEMA, parallelism)


def docs_to_quads_safe(
    docs: DataFrame,
    context: dict | None = PIPELINE_CONTEXT,
    base: str | None = None,
) -> DataFrame:
    """Error-tolerant kernel stage: documents that fail to parse or
    expand produce one row with ``_error`` set to the spec error code
    instead of failing the job (the corrupt-record channel for the
    reference's parse/expansion error taxonomy, Processor.php:180-228;
    a 100 TB ingest quarantines bad documents, it doesn't die)."""
    activectx = resolve_context(context, base)
    nulls = (None,) * len(QUAD_COLUMNS)

    def per_doc(conv_id, turn_idx, doc):
        if doc is None:
            return [(conv_id, turn_idx, *nulls, "missing document")]
        try:
            expanded = expand_with(json.loads(doc), activectx, base)
        except JsonLdError as exc:
            return [(conv_id, turn_idx, *nulls, exc.code)]
        except ValueError:
            return [(conv_id, turn_idx, *nulls, "loading document failed")]
        return [(conv_id, turn_idx, *quad, None) for quad in expanded_to_quads(expanded)]

    return kernel_stage(docs, per_doc, ERROR_QUAD_SCHEMA, kernel_partitions(docs.sparkSession))


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
