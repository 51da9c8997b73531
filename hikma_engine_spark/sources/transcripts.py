"""Transcript table source adapters.

The north rule's production input is an Iceberg table; this container
has no Iceberg jars, so the catalog path is gated behind a capability
check and the parquet path carries the same fixed schema and the same
incremental semantics (snapshot-range reads ⇒ content-hash diff in
pipeline.run_incremental).

Reference analogs: FileScanner source enumeration + filters
(src/modules/file-scanner.ts:98-153, 69-96) and the incremental
changed-set restriction (src/modules/git-analyzer.ts:109-132).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TRANSCRIPTS

MAX_TURN_CHARS_DEFAULT = 1_000_000  # oversized-turn guard (S3 analog: 1MB cap)


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.org.apache.iceberg.Table  # noqa: SLF001
        return True
    except Exception:
        return False


def read_transcripts(
    spark: SparkSession,
    path_or_table: str,
    max_turn_chars: int = MAX_TURN_CHARS_DEFAULT,
    conv_prefix_filter: str | None = None,
) -> DataFrame:
    """Schema-enforced transcript scan with pushdown-friendly filters.

    - schema is DECLARED, not inferred (prod discipline)
    - the oversized-turn guard and conversation-prefix filter are plain
      column predicates so Catalyst pushes them into the scan
    """
    if path_or_table.startswith("iceberg:"):
        if not iceberg_available(spark):
            raise NotImplementedError(
                "Iceberg catalog not on the classpath in this image; "
                "use a parquet path (same schema, same semantics)"
            )
        df = spark.read.format("iceberg").load(path_or_table[len("iceberg:"):])
    else:
        df = spark.read.schema(TRANSCRIPTS).parquet(path_or_table)
    df = df.filter(
        F.col("text").isNull() | (F.length("text") <= max_turn_chars)
    )
    if conv_prefix_filter:
        df = df.filter(F.col("conv_id").startswith(conv_prefix_filter))
    return df
