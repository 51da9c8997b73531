"""Stage 1 — discover: conversations dimension + ordered-turn views.

Analog of the reference's phase 1 ``data_discovery``
(src/core/PhaseManager.ts:248-288: FileScanner enumerates documents,
NodeCreator mints repository/file nodes with content hashes) — here the
"documents" are conversations assembled from turns via window functions
over ``(conv_id, turn_idx)`` (the north star's explicit requirement).

Scale notes: the groupBy(conv_id) aggregation uses map-side partial
aggregation (automatic); the window is partitioned by conv_id — a
pathological 10k-turn conversation stays one window partition, which is
fine (windows stream within a partition, no materialization of the
whole group). The order-stable content hash is computed from
sort_array(collect_list(...)) so it is independent of physical row
order — the per-turn-text-equality invariant's anchor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# unit separator — cannot occur in sha hex output, safe join delimiter
_SEP = "\x1f"


def per_turn_hash() -> F.Column:
    """Order-independent per-turn digest over every column a turn's
    nodes and edges read: sha256(turn_idx <US> role <US> tool <US> ts
    <US> text), ts as epoch microseconds. Each field is coalesced to ''
    — concat_ws skips NULLs, which would shift the later fields — after
    a cast to string: a column that is NULL in every row of a parquet
    file is typed void there, and coalesce(void, '') casts '' to BIGINT."""
    fields = (
        F.col("turn_idx"),
        F.col("role"),
        F.col("tool"),
        F.unix_micros(F.col("ts").cast("timestamp")),
        F.col("text"),
    )
    return F.sha2(
        F.concat_ws(_SEP, *(F.coalesce(f.cast("string"), F.lit("")) for f in fields)), 256
    )


def conversations_dim(transcripts: DataFrame) -> DataFrame:
    """Per-conversation dim row: counts, span, role mix, content hash.

    content_hash = md5 over the turn_idx-sorted concatenation of
    per-turn sha256 digests — stable under any physical row order.
    """
    turn = transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        "ts",
        per_turn_hash().alias("turn_hash"),
        F.length(F.coalesce(F.col("text"), F.lit(""))).alias("n_chars"),
    )
    return (
        turn.groupBy("conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.countDistinct("turn_idx").alias("n_distinct_turns"),
            F.max("turn_idx").alias("max_turn_idx"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.sum(F.when(F.col("role") == "tool", 1).otherwise(0)).alias("n_tool_turns"),
            F.sum("n_chars").alias("total_chars"),
            F.md5(
                F.concat_ws(
                    _SEP,
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("turn_idx", "turn_hash"))),
                        lambda s: s["turn_hash"],
                    ),
                )
            ).alias("content_hash"),
        )
    )


def ordered_turns(transcripts: DataFrame) -> DataFrame:
    """Turns with window-derived ordering context (lag/lead role, first/
    last flags, position) — the cross-turn context columns downstream
    extraction rules may use (SURVEY.md §2.6 W3)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        transcripts.withColumn("prev_role", F.lag("role").over(w))
        .withColumn("next_role", F.lead("role").over(w))
        .withColumn("pos", F.row_number().over(w))
        .withColumn("is_first", F.col("pos") == 1)
    )


def validate(transcripts: DataFrame) -> DataFrame:
    """Data-quality side output (reference: validateNodes/duplicate-id
    detection, src/modules/data-loader.ts:1170-1263): duplicate
    (conv_id, turn_idx) keys — must be empty."""
    return (
        transcripts.groupBy("conv_id", "turn_idx")
        .count()
        .filter(F.col("count") > 1)
    )
