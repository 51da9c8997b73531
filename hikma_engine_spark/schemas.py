"""Fixed StructType schemas for every table the pipeline touches.

Mirrors the reference's data model (SURVEY.md §1):
- transcripts  — the input table (BASELINE.json input_hint)
- nodes        — NodeWithEmbedding + graph_nodes columns
                 (reference: src/types/index.ts:203-206,
                  src/persistence/models/GraphNodeModel.ts:13-30)
- edges        — graph_edges / (subj, pred, obj) triples
                 (reference: src/persistence/models/GraphEdgeModel.ts:13-29)
- pipeline_state — phase_status + indexing_state analog
                 (reference: src/persistence/models/PhaseStatusModel.ts:9-27)
"""

from __future__ import annotations

from pyspark.sql import types as T

EMBEDDING_DIM = 64  # deterministic hash embedding (test default, FIXTURES.md §3)

TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

MENTIONS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("surface", T.StringType(), False),
        T.StructField("surface_norm", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # gazetteer | at | tool
    ]
)

TRIPLES = T.StructType(
    [
        T.StructField("src", T.StringType(), False),
        T.StructField("edge_type", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("rule", T.StringType(), True),  # extraction rule id
    ]
)

NODES = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("business_key", T.StringType(), False),
        T.StructField("node_type", T.StringType(), False),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("signature_hash", T.StringType(), True),
        T.StructField("source_text", T.StringType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("canonical_id", T.StringType(), True),
    ]
)

EDGES = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("src", T.StringType(), False),
        T.StructField("edge_type", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("dynamic", T.BooleanType(), True),
    ]
)

PIPELINE_STATE = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("phase_name", T.StringType(), False),
        T.StructField("partition_id", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("started_at", T.StringType(), True),
        T.StructField("completed_at", T.StringType(), True),
        T.StructField("watermark", T.StringType(), True),
        T.StructField("stats", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("elapsed_s", T.DoubleType(), True),
        T.StructField("codegen_compiles", T.LongType(), True),
        T.StructField("jit_ms", T.LongType(), True),
    ]
)

# Node-type vocabulary (analog of the reference's 9 NodeTypes,
# src/types/index.ts:7-16, remapped to the transcript domain per
# SURVEY.md §1.4)
NODE_TYPES = ("Conversation", "Turn", "Mention", "Entity", "Tool")

# Edge-type vocabulary (analog of the reference's 11 EdgeTypes,
# src/types/index.ts:18-29)
EDGE_TYPES = (
    "IN_CONV",      # turn → conversation        (CONTAINS analog)
    "IN_TURN",      # mention → turn             (DEFINED_IN analog)
    "MENTIONS",     # turn → entity              (REFERENCES analog)
    "REFERS_TO",    # mention → entity           (CALLS-resolution analog)
    "INVOKES",      # turn → tool                (CALLS analog)
    "DEPENDS_ON",   # entity → entity            (SVO relation rule)
    "SAME_AS",      # entity → canonical entity  (EVOLVED_BY analog; linking output)
)
