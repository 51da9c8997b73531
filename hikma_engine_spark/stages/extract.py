"""Stage 2 — extract: mention detection + (subj, pred, obj) triple assembly.

Analog of the reference's phase 2 ``structure_extraction``
(src/core/PhaseManager.ts:290-312 → AstParser.parseFiles,
src/modules/ast-parser.ts:145-298: per-document AST visit emitting
entity nodes + CALLS/DEFINED_IN/CONTAINS edges).

Execution shape:
- mention detection runs as ``mapInPandas`` (Arrow-batched; regex spec
  in extraction.py). It is *per-turn* — embarrassingly parallel at row
  granularity, so a 10k-turn conversation causes no skew here (rows of
  one conversation need no co-location for extraction; parallelism
  follows parquet splits, not conv_id).
- triple assembly is pure JVM-side DataFrame code (select/distinct/
  union) over the mention rows — stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..extraction import (
    EXTRACTION_SCHEMA,
    KIND_AT,
    KIND_DEPENDS,
    KIND_GAZETTEER,
    KIND_TOOLCALL,
    extract_mentions_batch,
    make_extractor,
)

# the exploded triple struct ``t`` flattened next to its turn key
_TRIPLE_COLS = ["t.src", "t.edge_type", "t.dst", "conv_id", "turn_idx", "t.rule"]


def _turn_id() -> F.Column:
    return F.concat(F.lit("turn:"), F.col("conv_id"), F.lit("#"), F.col("turn_idx"))


def _mention_id() -> F.Column:
    return F.concat(
        F.lit("mention:"),
        F.col("conv_id"),
        F.lit("#"),
        F.col("turn_idx"),
        F.lit("#"),
        F.col("start"),
    )


def extract_mentions(
    transcripts: DataFrame, surfaces: list[str] | None = None
) -> DataFrame:
    """transcripts → mention rows (1 turn → N matches, flatMap-shaped).

    ``surfaces`` overrides the gazetteer (domain-specific lexicons)."""
    body = extract_mentions_batch if surfaces is None else make_extractor(surfaces)
    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(
        body, EXTRACTION_SCHEMA
    )


def _triple_struct(edge_type: str, src: F.Column, dst: F.Column, rule: F.Column) -> F.Column:
    return F.struct(
        src.alias("src"),
        F.lit(edge_type).alias("edge_type"),
        dst.alias("dst"),
        rule.alias("rule"),
    )


def mention_triples(mentions: DataFrame) -> DataFrame:
    """Mention rows → their IN_TURN/REFERS_TO/MENTIONS/INVOKES/DEPENDS_ON
    triples. Each mention row explodes into its 0-3 triples via a
    guarded struct array: one pass over the mentions (a union of 5
    per-branch subplans would scan them 5 times)."""
    is_entity = F.col("kind").isin(KIND_GAZETTEER, KIND_AT)
    first = F.col("first_in_turn")
    ent_dst = F.concat(F.lit("entity:"), F.col("surface_norm"))

    return (
        mentions.select(
            "conv_id",
            "turn_idx",
            F.explode(
                F.array(
                    F.when(
                        is_entity,
                        _triple_struct(
                            "IN_TURN", _mention_id(), _turn_id(), F.lit("structural")
                        ),
                    ),
                    F.when(
                        is_entity,
                        _triple_struct(
                            "REFERS_TO", _mention_id(), ent_dst, F.col("kind")
                        ),
                    ),
                    F.when(
                        is_entity & first,
                        _triple_struct("MENTIONS", _turn_id(), ent_dst, F.col("kind")),
                    ).when(
                        (F.col("kind") == KIND_TOOLCALL) & first,
                        _triple_struct(
                            "INVOKES",
                            _turn_id(),
                            F.concat(F.lit("tool:"), F.col("surface_norm")),
                            F.lit(KIND_TOOLCALL),
                        ),
                    ).when(
                        (F.col("kind") == KIND_DEPENDS) & first,
                        _triple_struct(
                            "DEPENDS_ON",
                            F.concat(F.lit("entity:"), F.col("surface_norm")),
                            F.concat(F.lit("entity:"), F.col("obj_norm")),
                            F.lit(KIND_DEPENDS),
                        ),
                    ),
                )
            ).alias("t"),
        )
        .filter(F.col("t").isNotNull())
        .select(*_TRIPLE_COLS)
    )


def turn_triples(transcripts: DataFrame) -> DataFrame:
    """Turn rows → IN_CONV triples, plus INVOKES for role='tool' turns."""
    return (
        transcripts.select(
            "conv_id",
            "turn_idx",
            F.explode(
                F.array(
                    _triple_struct(
                        "IN_CONV",
                        _turn_id(),
                        F.concat(F.lit("conv:"), F.col("conv_id")),
                        F.lit("structural"),
                    ),
                    F.when(
                        (F.col("role") == "tool") & F.col("tool").isNotNull(),
                        _triple_struct(
                            "INVOKES",
                            _turn_id(),
                            F.concat(F.lit("tool:"), F.lower(F.col("tool"))),
                            F.lit("tool_col"),
                        ),
                    ),
                )
            ).alias("t"),
        )
        .filter(F.col("t").isNotNull())
        .select(*_TRIPLE_COLS)
    )


def assemble_triples(transcripts: DataFrame, mentions: DataFrame) -> DataFrame:
    """Mentions + transcripts → the raw (pre-canonicalization) triple set.

    Vocabulary (schemas.EDGE_TYPES; analog of the reference's EdgeTypes,
    src/types/index.ts:18-29):
      turn IN_CONV conv | mention IN_TURN turn | mention REFERS_TO entity
      turn MENTIONS entity (distinct per turn) | turn INVOKES tool
      entity DEPENDS_ON entity (SVO rule)

    Plan shape: ONE narrow pass over each input, no shuffle. Every
    triple but INVOKES and DEPENDS_ON is unique by construction
    (first_in_turn); materialize deduplicates those two slices.
    """
    return mention_triples(mentions).unionByName(turn_triples(transcripts))
