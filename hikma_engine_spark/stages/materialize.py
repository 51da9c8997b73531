"""Stage 4 — materialize: nodes (NodeWithEmbedding schema) + edges.

Analog of the reference's phase 4 ``final_assembly``
(src/core/PhaseManager.ts:352-412: union phase-2 nodes/edges, merge
summaries back, embed, persist graph_nodes/graph_edges/embedding_nodes
via PhaseRepository.persistPhase4Data).

Node schema mirrors NodeWithEmbedding (src/types/index.ts:203-206) +
graph_nodes (src/persistence/models/GraphNodeModel.ts:13-30); edges
mirror graph_edges (GraphEdgeModel.ts:13-29). All ids are deterministic
business keys, so rewrites are idempotent — the Spark analog of the
reference's INSERT OR REPLACE upsert (GenericRepository.ts:23,64); with
an Iceberg catalog this becomes MERGE INTO (jars not in this image —
parquet overwrite gives the same last-writer-wins result for batch).

Turn nodes carry ``source_text`` = the turn's text VERBATIM — the
per-row invariant (byte equality under stable (conv_id, turn_idx)
ordering) is checked against this column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..extraction import KIND_AT, KIND_DEPENDS, KIND_GAZETTEER, KIND_TOOLCALL
from ..functions.embeddings import embed_udf
from .extract import assemble_triples, mention_triples

_NODE_COLS = [
    "id",
    "business_key",
    "node_type",
    "properties",
    "conv_id",
    "turn_idx",
    "signature_hash",
    "source_text",
    "embedding",
    "canonical_id",
]

def _NULL_EMB() -> F.Column:
    return F.lit(None).cast("array<float>")


def _NULL_STR() -> F.Column:
    return F.lit(None).cast("string")


def _NULL_INT() -> F.Column:
    return F.lit(None).cast("int")


def _sig(node_type: str, name_col: F.Column) -> F.Column:
    # reference: md5(`${type}:${name}:${signature}`), data-loader.ts:193-197
    return F.md5(F.concat_ws(":", F.lit(node_type), name_col))


def conversation_nodes(conversations: DataFrame) -> DataFrame:
    cid = F.concat(F.lit("conv:"), F.col("conv_id"))
    return conversations.select(
        cid.alias("id"),
        cid.alias("business_key"),
        F.lit("Conversation").alias("node_type"),
        F.create_map(
            F.lit("n_turns"), F.col("n_turns").cast("string"),
            F.lit("n_tool_turns"), F.col("n_tool_turns").cast("string"),
            F.lit("total_chars"), F.col("total_chars").cast("string"),
            F.lit("content_hash"), F.col("content_hash"),
        ).alias("properties"),
        F.col("conv_id"),
        _NULL_INT().alias("turn_idx"),
        _sig("Conversation", F.col("conv_id")).alias("signature_hash"),
        _NULL_STR().alias("source_text"),
        _NULL_EMB().alias("embedding"),
        cid.alias("canonical_id"),
    )


def _doc_excerpt() -> F.Column:
    """E4 analog (extractJSDoc, src/modules/enhanced-ast-parser.ts:631-637
    — pull the leading doc comment of a node): a turn's 'docstring' is
    its leading markdown heading, else its first double-quoted span.
    Pure regexp_extract; empty string when neither is present."""
    heading = F.regexp_extract(F.col("text"), r"^#{1,6}[ \t]+([^\n]{1,200})", 1)
    quoted = F.regexp_extract(F.col("text"), r'"([^"\n]{1,200})"', 1)
    return F.when(heading != "", heading).otherwise(quoted)


def turn_nodes(transcripts: DataFrame, embed: bool = True) -> DataFrame:
    """``embed=False`` defers the embedding UDF (apply_embeddings) so a
    downstream repartition shuffles compact text rows, not vectors."""
    tid = F.concat(F.lit("turn:"), F.col("conv_id"), F.lit("#"), F.col("turn_idx"))
    return transcripts.select(
        tid.alias("id"),
        tid.alias("business_key"),
        F.lit("Turn").alias("node_type"),
        F.create_map(
            F.lit("role"), F.coalesce(F.col("role"), F.lit("")),
            F.lit("tool"), F.coalesce(F.col("tool"), F.lit("")),
            F.lit("ts"), F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
            F.lit("doc"), F.coalesce(_doc_excerpt(), F.lit("")),
        ).alias("properties"),
        F.col("conv_id"),
        F.col("turn_idx"),
        _sig("Turn", tid).alias("signature_hash"),
        F.col("text").alias("source_text"),  # VERBATIM — invariant column
        (embed_udf(F.col("text")) if embed else _NULL_EMB()).alias("embedding"),
        tid.alias("canonical_id"),
    )


def mention_nodes(mentions: DataFrame, links: DataFrame) -> DataFrame:
    m = mentions.filter(F.col("kind").isin(KIND_GAZETTEER, KIND_AT))
    mid = F.concat(
        F.lit("mention:"), F.col("conv_id"), F.lit("#"), F.col("turn_idx"),
        F.lit("#"), F.col("start"),
    )
    return (
        # links = one row per distinct surface (unbounded vocabulary) —
        # leave the join strategy to Catalyst/AQE, never force broadcast
        m.join(links, "surface_norm", "left")
        .select(
            mid.alias("id"),
            mid.alias("business_key"),
            F.lit("Mention").alias("node_type"),
            F.create_map(
                F.lit("kind"), F.col("kind"),
                F.lit("start"), F.col("start").cast("string"),
                F.lit("end"), F.col("end").cast("string"),
                # kept so incremental runs can refresh canonical_id
                # after a global re-link without re-extraction
                F.lit("surface_norm"), F.col("surface_norm"),
            ).alias("properties"),
            F.col("conv_id"),
            F.col("turn_idx"),
            _sig("Mention", F.col("surface_norm")).alias("signature_hash"),
            F.col("surface").alias("source_text"),
            _NULL_EMB().alias("embedding"),
            F.concat(
                F.lit("entity:"), F.coalesce(F.col("canonical_norm"), F.col("surface_norm"))
            ).alias("canonical_id"),
        )
    )


def entity_adjacency(mentions: DataFrame, adj_n: int = 8) -> DataFrame:
    """Per-surface adjacency aggregate (A7, reference: buildCallGraph
    adjacency properties, src/modules/ast-parser.ts:398-438): mention
    degree + the adj_n lexicographically-first mentioning turn ids,
    via the salted two-phase collect (hot entities never funnel their
    full turn list through one reducer)."""
    from ..operators.skew import salted_topn_collect  # noqa: PLC0415

    m = mentions.filter(
        F.col("kind").isin(KIND_GAZETTEER, KIND_AT) & F.col("first_in_turn")
    ).select(
        "surface_norm",
        F.concat(
            F.lit("turn:"), F.col("conv_id"), F.lit("#"), F.col("turn_idx")
        ).alias("tid"),
        "conv_id",
        "turn_idx",
        "start",
    )
    return salted_topn_collect(
        m,
        ["surface_norm"],
        "tid",
        n=adj_n,
        salt_source=["conv_id", "turn_idx", "start"],
    )


def entity_nodes(
    links: DataFrame, mentions: DataFrame | None = None, adj_n: int = 8
) -> DataFrame:
    """One node per surface form (canonical_id → its canonical entity),
    plus the canonical entities themselves (which may be unobserved
    gazetteer canonicals). When ``mentions`` is given, nodes carry
    materialized adjacency properties (degree + capped sorted turn
    sample — A7)."""
    surfaces = links.select(
        F.col("surface_norm").alias("name"), F.col("canonical_norm")
    )
    # canonical targets not observed as surfaces get their own identity
    # rows via anti-join (NOT dropDuplicates over the union: if a name
    # were both an alias and a canonical target, dropDuplicates would
    # keep an ARBITRARY row — the anti-join deterministically prefers
    # the observed surface's linked canonical)
    canonicals = (
        links.select(F.col("canonical_norm").alias("name"), F.col("canonical_norm"))
        .distinct()
        .join(surfaces.select("name"), "name", "left_anti")
    )
    all_ents = surfaces.unionByName(canonicals)
    props = F.create_map(F.lit("surface"), F.col("name"))
    if mentions is not None:
        adj = entity_adjacency(mentions, adj_n).withColumnRenamed(
            "surface_norm", "name"
        )
        # no forced broadcast: the adjacency dim is one row per distinct
        # surface — unbounded under open @-mentions; AQE broadcasts it
        # when (and only when) it is actually small
        all_ents = all_ents.join(adj, "name", "left")
        props = F.create_map(
            F.lit("surface"), F.col("name"),
            F.lit("degree"), F.coalesce(F.col("degree"), F.lit(0)).cast("string"),
            F.lit("adj_turns"),
            F.array_join(F.coalesce(F.col("items"), F.array()), ","),
        )
    eid = F.concat(F.lit("entity:"), F.col("name"))
    return all_ents.select(
        eid.alias("id"),
        eid.alias("business_key"),
        F.lit("Entity").alias("node_type"),
        props.alias("properties"),
        _NULL_STR().alias("conv_id"),
        _NULL_INT().alias("turn_idx"),
        _sig("Entity", F.col("name")).alias("signature_hash"),
        F.col("name").alias("source_text"),
        embed_udf(F.col("name")).alias("embedding"),
        F.concat(F.lit("entity:"), F.col("canonical_norm")).alias("canonical_id"),
    )


def tool_source_ids(transcripts: DataFrame, mentions: DataFrame) -> DataFrame:
    """Tool id dim straight from the SOURCE columns — two pruned column
    scans, no triple explode and no dependency on a committed edges
    table (which is what lets the nodes and edges writes run as
    concurrent jobs). Equals the distinct INVOKES dst set by
    construction: extraction rule R3 emits ``tool:<surface_norm>`` for
    kind=toolcall mentions, and turn assembly emits
    ``tool:lower(tool)`` for role='tool' turns (stages/extract.py
    turn_triples) — pinned by test_tool_source_ids_match_invokes."""
    from ..extraction import KIND_TOOLCALL  # noqa: PLC0415

    a = mentions.filter(F.col("kind") == KIND_TOOLCALL).select(
        F.concat(F.lit("tool:"), F.col("surface_norm")).alias("id")
    )
    b = transcripts.filter(
        (F.col("role") == "tool") & F.col("tool").isNotNull()
    ).select(F.concat(F.lit("tool:"), F.lower(F.col("tool"))).alias("id"))
    return a.unionByName(b).distinct()


def tool_nodes(tool_ids: DataFrame) -> DataFrame:
    """One Tool node per id of a tool-id dim (column ``id``)."""
    name = F.regexp_replace(F.col("id"), "^tool:", "")
    return tool_ids.select(
        F.col("id"),
        F.col("id").alias("business_key"),
        F.lit("Tool").alias("node_type"),
        F.create_map(F.lit("name"), name).alias("properties"),
        _NULL_STR().alias("conv_id"),
        _NULL_INT().alias("turn_idx"),
        _sig("Tool", name).alias("signature_hash"),
        name.alias("source_text"),
        _NULL_EMB().alias("embedding"),
        F.col("id").alias("canonical_id"),
    )


# NOTE: do NOT wrap embed_udf in F.when() over a unioned node table to
# embed "only some types" — Spark extracts pandas UDFs into an
# unconditional projection, so the UDF runs on EVERY row regardless of
# the guard. Embed per branch (entity_nodes always; turn_nodes unless
# embed=False) before the union instead.

# ---- the node and edge tables, split by scope ----
# Per-conversation types are keyed by conv_id: a change to one
# conversation touches only its own rows (bucket-surgical rewrites in
# run_incremental). Global types aggregate over the whole corpus and are
# rebuilt wholesale from the merged inputs.
PER_CONV_NODE_TYPES = ("Turn", "Mention")
GLOBAL_NODE_TYPES = ("Conversation", "Entity", "Tool")
PER_CONV_EDGE_TYPES = ("IN_CONV", "IN_TURN", "REFERS_TO", "MENTIONS", "INVOKES")
GLOBAL_EDGE_TYPES = ("DEPENDS_ON", "SAME_AS")


def per_conv_nodes(
    transcripts: DataFrame, mentions: DataFrame, links: DataFrame
) -> DataFrame:
    """Turn nodes + Mention nodes. Turns embed inline: a shuffle of
    ``transcripts`` (the bucketed layout's) runs before the embedding,
    so vectors never cross it."""
    return (
        turn_nodes(transcripts)
        .unionByName(mention_nodes(mentions, links))
        .select(*_NODE_COLS)
    )


def global_nodes(
    conversations: DataFrame,
    links: DataFrame,
    mentions: DataFrame,
    tool_ids: DataFrame,
) -> DataFrame:
    """Conversation, Entity (embedded, with adjacency over ``mentions``)
    and Tool nodes."""
    return (
        conversation_nodes(conversations)
        .unionByName(entity_nodes(links, mentions))
        .unionByName(tool_nodes(tool_ids))
        .select(*_NODE_COLS)
    )


def _first_per_key(triples: DataFrame) -> DataFrame:
    """One triple per (src, edge_type, dst): the smallest conv_id,
    turn_idx and rule among its copies (one shuffle over the slice)."""
    return triples.groupBy("src", "edge_type", "dst").agg(
        F.min("conv_id").alias("conv_id"),
        F.min("turn_idx").alias("turn_idx"),
        F.min("rule").alias("rule"),
    )


def _edge_rows(triples: DataFrame) -> DataFrame:
    """Triples → graph_edges rows; id = md5(src|type|dst)."""
    edge_id = F.md5(F.concat_ws("|", "src", "edge_type", "dst"))
    return triples.select(
        edge_id.alias("id"),
        "src",
        "edge_type",
        "dst",
        F.create_map(F.lit("rule"), F.coalesce(F.col("rule"), F.lit(""))).alias(
            "properties"
        ),
        "conv_id",
        "turn_idx",
        (F.col("rule") == "at").alias("dynamic"),  # low-confidence flag
    )


def per_conv_edges(transcripts: DataFrame, mentions: DataFrame) -> DataFrame:
    """IN_CONV/IN_TURN/REFERS_TO/MENTIONS/INVOKES edges. Each is unique
    by construction (its src embeds the turn id and extraction emits one
    row per key, first_in_turn) except INVOKES: a role='tool' turn that
    also says call:<same tool> yields it twice, so only the INVOKES
    slice is deduplicated — assembled from the tool turns and toolcall
    mentions alone (both filters reach the scans), never the full
    triple set."""
    invokes = F.col("edge_type") == "INVOKES"
    rest = assemble_triples(transcripts, mentions).filter(
        F.col("edge_type").isin(*PER_CONV_EDGE_TYPES) & ~invokes
    )
    tool_triples = assemble_triples(
        transcripts.filter(F.col("role") == "tool"),
        mentions.filter(F.col("kind") == KIND_TOOLCALL),
    )
    return _edge_rows(rest.unionByName(_first_per_key(tool_triples.filter(invokes))))


def global_edges(mentions: DataFrame, same_as: DataFrame) -> DataFrame:
    """DEPENDS_ON edges (the same entity pair can be stated in many
    turns: deduplicated) + the linker's SAME_AS edges. DEPENDS_ON comes
    from the kind='depends_on' mentions alone; the kind filter reaches
    the scan, so no other mention row is exploded."""
    deps = mention_triples(mentions.filter(F.col("kind") == KIND_DEPENDS))
    return _edge_rows(_first_per_key(deps).unionByName(same_as))


def build_edges(
    transcripts: DataFrame, mentions: DataFrame, same_as: DataFrame
) -> DataFrame:
    """The full edge table (the INSERT-OR-REPLACE analog: deterministic
    ids, one row per key)."""
    return per_conv_edges(transcripts, mentions).unionByName(
        global_edges(mentions, same_as)
    )


def referential_violations(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Edges whose endpoints are missing from nodes (reference:
    validateDataConsistency anti-join, src/modules/data-loader.ts:1242-1267
    and the orphan-edge SQL audit :1088-1095). Must be empty."""
    ids = nodes.select(F.col("id").alias("nid"))
    src_bad = edges.join(ids, edges.src == ids.nid, "left_anti")
    dst_bad = edges.join(ids, edges.dst == ids.nid, "left_anti")
    return src_bad.unionByName(dst_bad).select("id", "src", "edge_type", "dst").distinct()
