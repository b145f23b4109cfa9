"""S1: batched mention detection, entity linking, and per-turn JSON-LD
payload assembly — entirely JVM-side column expressions (no Python in
the hot path; SURVEY.md §7.0 stage S1).

Mention detection is a single vectorized ``regexp_extract_all`` against
the alternation of all dictionary surfaces. Entity linking resolves
each surface to the argmax-prior entity; because the canonical-entity
dictionary is small and static it is resolved once on the driver and
shipped as a *literal map expression* (cheaper than a broadcast join:
zero shuffle, zero build side). ``link_mentions_join`` provides the
broadcast-join variant for dynamic dictionaries.

The per-turn payload is described once, as field tables
(``_turn_fields``/``_mention_fields``): ``with_payload`` serialises
them to the JSON-LD document, and ``payload_quads`` compiles them to
the quads toRdf emits for that document, so the two cannot drift.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from jsonld_spark.sources import entities as E

TURN_IRI_PREFIX = E.KG + "turn/"
CONV_IRI_PREFIX = E.KG + "conv/"
TOOL_IRI_PREFIX = E.KG + "tool/"

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
XSD_INTEGER = "http://www.w3.org/2001/XMLSchema#integer"

# The static context for per-turn payloads; resolved once on the driver
# and shared with the expansion kernel stage (SURVEY.md §1.3: contexts
# are the schema; executors never process contexts).
PIPELINE_CONTEXT = {
    "@vocab": E.VOCAB,
    "target": {"@type": "@id"},
    "tool": {"@type": "@id"},
    "inConversation": {"@type": "@id"},
    "entities": {"@type": "@id"},
    "score": {"@type": "http://www.w3.org/2001/XMLSchema#double"},
}


def _link_map_expr():
    """Literal MapType column: surface -> struct(entity_id, type_term,
    prior, prior_str), where prior_str is the prior's canonical
    xsd:double lexical form."""
    entries = []
    for surface, row in sorted(E.resolved_link_map().items()):
        index = int(row["entity_id"].rsplit("E", 1)[1])
        entries.append(F.lit(surface))
        entries.append(
            F.struct(
                F.lit(row["entity_id"]).alias("entity_id"),
                F.lit(row["type_term"]).alias("type_term"),
                F.lit(float(row["prior"])).alias("prior"),
                F.lit(E.entity_prior_str(index)).alias("prior_str"),
            )
        )
    return F.create_map(*entries)


def detect_mentions(transcripts: DataFrame) -> DataFrame:
    """transcripts -> one row per detected mention, in text order.

    Output: (conv_id, turn_idx, rank, surface).
    """
    surfaces = F.regexp_extract_all("text", F.lit(E.surface_pattern()), 1)
    return (
        transcripts.select(
            "conv_id",
            "turn_idx",
            F.posexplode(surfaces).alias("rank", "surface"),
        )
    )


def dictionary_df(spark) -> DataFrame:
    """The canonical-entity dictionary as a DataFrame (the dynamic-
    dictionary shape; the static path uses the literal map instead)."""
    rows = [
        (r["entity_id"], r["surface"], r["type_term"], float(r["prior"]))
        for r in E.dictionary_rows()
    ]
    return spark.createDataFrame(
        rows, "entity_id string, surface string, type_term string, prior double"
    )


def resolve_dictionary(dictionary: DataFrame) -> DataFrame:
    """Per-surface argmax-prior resolution (ties -> smallest entity_id),
    the distributed analogue of entities.resolved_link_map()."""
    w = Window.partitionBy("surface").orderBy(F.desc("prior"), F.asc("entity_id"))
    return (
        dictionary.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def link_mentions_join(mentions: DataFrame, dictionary: DataFrame) -> DataFrame:
    """Broadcast-join entity linking with argmax-prior resolution.

    The dictionary (entity_id, surface, type_term, prior) is resolved
    per surface (argmax prior, ties -> smallest entity_id) and then
    broadcast — the big mention side never shuffles.
    """
    return mentions.join(F.broadcast(resolve_dictionary(dictionary)), "surface", "left")


def link_mentions_join_salted(mentions: DataFrame, dictionary: DataFrame,
                              buckets: int = 16) -> DataFrame:
    """Entity linking as a SALTED shuffle join (north_rule): for when
    the dictionary outgrows broadcast AND one surface's reducer
    dominates the stage (spill / straggler). The mention side's surface
    key is head-skewed by design (E0 carries ~44% of mentions,
    sources/transcripts.py); salting spreads each surface over
    ``buckets`` reducers and explodes the dictionary side to match.

    Measured honestly (`bench.py --skew`, BENCH/BASELINE.md): at
    sandbox scale the PLAIN join wins ~2x — clustered identical keys
    compress the shuffle better and a 1.4-5.6M-row hot partition
    neither spills nor dominates on a 128 GiB JVM. Salting is the
    escape hatch for the regime where it does (hot partition >>
    executor memory), so it is opt-in, result-identical to the
    broadcast path (tests + driver oracle kg_mention_links_salted)."""
    from jsonld_spark.operators.canonicalize import salt_join

    # left, like the broadcast path: mentions whose surface is absent
    # from the dictionary must survive (salting is left-join-safe —
    # only the big side is salted, the small side is exploded to match)
    return salt_join(mentions, resolve_dictionary(dictionary), ["surface"],
                     buckets=buckets, how="left")


class Field(NamedTuple):
    """One field of the per-turn payload: its JSON key and value.

    Its RDF object follows from PIPELINE_CONTEXT the way expansion and
    toRdf derive it: ``@type`` values are vocabulary terms, keys the
    context coerces to ``@id`` are IRIs, and other keys are literals
    typed by the context or else by ``datatype`` (a native JSON string
    is xsd:string, an integer xsd:integer). ``lexical`` overrides the
    literal's string form where toRdf canonicalises it (xsd:double)."""

    key: str
    value: Column
    datatype: str = XSD_STRING
    lexical: Column | None = None


def _turn_fields() -> list[Field]:
    """The turn node's scalar fields, in document order after ``@id``."""
    return [
        Field("@type", F.lit("Turn")),
        Field("atTime", F.date_format("ts", "yyyy-MM-dd HH:mm:ss")),
        Field("inConversation", F.concat(F.lit(CONV_IRI_PREFIX), F.col("conv_id"))),
        Field("role", F.col("role")),
        Field("turnIndex", F.col("turn_idx"), XSD_INTEGER),
        Field("text", F.col("text")),
        Field("tool", F.concat(F.lit(TOOL_IRI_PREFIX), F.col("tool"))),
    ]


def _mention_fields(surface: Column, rank: Column, entity: Column) -> list[Field]:
    """A mention node's fields, in document order; ``entity`` is the
    surface's link-map entry."""
    return [
        Field("@type", F.lit("Mention")),
        Field("rank", rank, XSD_INTEGER),
        Field("surface", surface),
        Field("score", entity["prior"], lexical=entity["prior_str"]),
        Field("target", entity["entity_id"]),
    ]


def _turn_iri() -> Column:
    return F.concat(F.lit(TURN_IRI_PREFIX), F.col("conv_id"), F.lit("/"), F.col("turn_idx"))


def _surfaces() -> Column:
    return F.regexp_extract_all("text", F.lit(E.surface_pattern()), 1)


def with_payload(transcripts: DataFrame) -> DataFrame:
    """Attach turn/conv IRIs and the per-turn JSON-LD document.

    Output: transcripts columns + (turn_iri, jsonld string).
    """
    link = _link_map_expr()
    turn_iri = _turn_iri()
    surfaces = _surfaces()

    def members(fields):
        return [f.value.alias(f.key) for f in fields]

    mentions = F.transform(
        surfaces, lambda s, i: F.struct(*members(_mention_fields(s, i, F.element_at(link, s))))
    )
    # entity references only (coerced @id strings): corpus-level entity
    # facts (rdf:type / label) are emitted by entity_triples() as a
    # small relational distinct, so the per-turn quads stay
    # unique-by-construction and need NO global dedup shuffle
    entity_refs = F.transform(surfaces, lambda s: F.element_at(link, s)["entity_id"])

    doc = F.to_json(
        F.struct(
            turn_iri.alias("@id"),
            *members(_turn_fields()),
            mentions.alias("mentions"),
            entity_refs.alias("entities"),
        )
    )
    return transcripts.withColumn("turn_iri", turn_iri).withColumn("jsonld", doc)


def _quad(subject, predicate: str, kind: str, value, datatype: str | None = None) -> Column:
    null_s = F.lit(None).cast("string")
    return F.struct(
        null_s.alias("graph"),
        subject.alias("subject"),
        F.lit(predicate).alias("predicate"),
        F.lit(kind).alias("obj_kind"),
        value.cast("string").alias("obj_value"),
        F.lit(datatype).cast("string").alias("obj_type"),
        null_s.alias("obj_lang"),
    )


def _fact(subject: Column, field: Field) -> Column:
    """The quad toRdf emits for one payload field of ``subject``."""
    if field.key == "@type":
        return _quad(subject, RDF_TYPE, "iri", F.concat(F.lit(E.VOCAB), field.value))
    coerced = PIPELINE_CONTEXT.get(field.key, {}).get("@type")
    if coerced == "@id":
        return _quad(subject, E.VOCAB + field.key, "iri", field.value)
    lexical = field.value if field.lexical is None else field.lexical
    return _quad(subject, E.VOCAB + field.key, "literal", lexical, coerced or field.datatype)


def payload_quads(transcripts: DataFrame) -> DataFrame:
    """The quads toRdf emits for each turn's ``with_payload`` document,
    compiled to column expressions: one ``explode`` over a per-turn
    array of quad structs, so no document is serialised or parsed.

    Mention j's blank node gets ``_:h<md5(conv_id/turn_idx)>n<j>``
    from the start: the kernel labels it ``_:b<j>`` (the mentions are
    the document's only blank nodes, issued in array order) and
    kg_pipeline.canonicalize_bnodes maps that to the same label.
    ``to_json`` omits null fields, so facts with a null object are
    dropped. The keys (conv_id, turn_idx) must be non-null.

    Output: (conv_id, turn_idx, graph, subject, predicate, obj_kind,
    obj_value, obj_type, obj_lang), unique within each turn.
    """
    link = _link_map_expr()
    turn = _turn_iri()
    key = F.md5(F.concat_ws("/", "conv_id", "turn_idx"))
    # regexp_extract_all of a null text is null, and a null array would
    # null the turn's whole fact array in concat
    surfaces = F.coalesce(_surfaces(), F.array().cast("array<string>"))

    def bnode(rank):
        return F.concat(F.lit("_:h"), key, F.lit("n"), rank.cast("string"))

    def mention_facts(s, i):
        return F.array(
            _quad(turn, E.VOCAB + "mentions", "iri", bnode(i)),
            *[_fact(bnode(i), f) for f in _mention_fields(s, i, F.element_at(link, s))],
        )

    # the node map keeps one edge per distinct entity reference
    entities = F.array_distinct(
        F.transform(surfaces, lambda s: F.element_at(link, s)["entity_id"])
    )
    facts = F.concat(
        F.array(*[_fact(turn, f) for f in _turn_fields()]),
        F.flatten(F.transform(surfaces, mention_facts)),
        F.transform(entities, lambda e: _fact(turn, Field("entities", e))),
    )
    return (
        transcripts.select("conv_id", "turn_idx", F.explode(facts).alias("q"))
        .where(F.col("q.obj_value").isNotNull())
        .select("conv_id", "turn_idx", "q.*")
    )


def entity_triples(transcripts: DataFrame) -> DataFrame:
    """Corpus-level entity facts — (entity, rdf:type, Type) and
    (entity, label, surface) — via mention detection + the broadcast
    link map. Only ``text`` is consumed, so callers can pass a
    window-free text frame (sources/transcripts.transcript_texts) and
    skip the turn-ordering shuffle entirely. The dedup is a
    groupBy(surface) — map-side partial aggregation collapses the
    head-entity skew to one row per surface per map task, so the
    shuffle carries O(distinct surfaces × tasks) rows, not O(mentions)."""
    link = _link_map_expr()
    surfaces = (
        transcripts.select(
            F.explode(
                F.regexp_extract_all("text", F.lit(E.surface_pattern()), 1)
            ).alias("surface")
        )
        .groupBy("surface")
        .agg(F.count("*").alias("_n"))
        .drop("_n")
        .select("surface", F.element_at(link, F.col("surface")).alias("e"))
    )
    null_s = F.lit(None).cast("string")
    typed = F.struct(
        F.col("e")["entity_id"].alias("subject"),
        F.lit(RDF_TYPE).alias("predicate"),
        F.lit("iri").alias("obj_kind"),
        F.concat(F.lit(E.VOCAB), F.col("e")["type_term"]).alias("obj_value"),
        null_s.alias("obj_type"),
        null_s.alias("obj_lang"),
    )
    labeled = F.struct(
        F.col("e")["entity_id"].alias("subject"),
        F.lit(E.VOCAB + "label").alias("predicate"),
        F.lit("literal").alias("obj_kind"),
        F.col("surface").alias("obj_value"),
        F.lit(XSD_STRING).cast("string").alias("obj_type"),
        null_s.alias("obj_lang"),
    )
    # both fact rows per surface in ONE pass (a second consumer of the
    # `surfaces` subtree would recompute the scan + regexp + groupBy)
    return (
        surfaces.select(F.explode(F.array(typed, labeled)).alias("f"))
        .select(null_s.alias("graph"), "f.*")
        .dropDuplicates()
    )
