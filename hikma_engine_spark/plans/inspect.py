"""Physical-plan inspection helpers — the ".explain and iterate" loop,
made assertable.

These let tests (and humans) verify the plans Catalyst actually picked:
projections reached the parquet scan, the small side went broadcast, no
accidental cartesian, no shuffle beyond the expected ones.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def read_schema(df: DataFrame) -> str:
    plan = physical_plan(df)
    return "\n".join(
        line.strip() for line in plan.splitlines() if "ReadSchema" in line
    )


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df, "simple")


def has_cartesian(df: DataFrame) -> bool:
    p = physical_plan(df, "simple")
    return "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p


def shuffle_count(df: DataFrame) -> int:
    """Number of Exchange operators (shuffles) in the physical plan."""
    return physical_plan(df, "simple").count("Exchange hashpartitioning") + \
        physical_plan(df, "simple").count("Exchange rangepartitioning")


def partition_filters(df: DataFrame) -> str:
    """The PartitionFilters section of every scan — non-empty entries
    mean directory-level pruning happened BEFORE any file was opened
    (the mechanism that turns a bucket/cell column into a 100 TB scan
    reducer)."""
    plan = physical_plan(df)
    return "\n".join(
        line.strip() for line in plan.splitlines() if "PartitionFilters" in line
    )


def has_partition_filter(df: DataFrame, fragment: str) -> bool:
    return fragment in partition_filters(df)
