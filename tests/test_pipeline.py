"""Pipeline-level invariants: resume, idempotency, text equality,
referential integrity, deterministic ids (FIXTURES.md §6 resume_case)."""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import functions as F

from hikma_engine_spark.pipeline import Pipeline
from hikma_engine_spark.stages.materialize import referential_violations


def _table_digest(df) -> str:
    """Order-insensitive digest of a DataFrame's full contents."""
    pdf = df.toPandas()
    pdf = pdf[sorted(pdf.columns)]
    rows = sorted(
        pdf.astype(str).apply(lambda r: "\x1f".join(r.values), axis=1).tolist()
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def test_per_turn_text_equality(spark, pipeline_out, corpus_pdf):
    """THE per-row invariant: Turn nodes' source_text is byte-identical
    to the input text under (conv_id, turn_idx) ordering."""
    turns = (
        pipeline_out.nodes()
        .filter(F.col("node_type") == "Turn")
        .select("conv_id", "turn_idx", "source_text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    src = (
        corpus_pdf[["conv_id", "turn_idx", "text"]]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(turns) == len(src)
    assert (turns.source_text.to_numpy() == src.text.to_numpy()).all()


def test_referential_integrity(spark, pipeline_out):
    assert referential_violations(pipeline_out.nodes(), pipeline_out.edges()).count() == 0


def test_unique_node_and_edge_ids(spark, pipeline_out):
    n = pipeline_out.nodes()
    e = pipeline_out.edges()
    assert n.groupBy("id").count().filter("count > 1").count() == 0
    assert e.groupBy("id").count().filter("count > 1").count() == 0


def test_resume_after_partial_run(spark, corpus_path, tmp_path, pipeline_out):
    """Kill-after-extract then resume → identical outputs to the full run
    (skip-if-complete semantics, reference PhaseManager.ts:167-187)."""
    out = str(tmp_path / "resume_out")
    p1 = Pipeline(spark, corpus_path, out, run_id="partial")
    p1.run(stop_after="extract")
    state = p1.state.rows()
    assert {r["phase_name"] for r in state if r["status"] == "completed"} == {
        "discover",
        "extract",
    }

    p2 = Pipeline(spark, corpus_path, out, run_id="resumed")
    res = p2.run(resume=True)
    assert res.skipped == ["discover", "extract"]

    for table in ["nodes", "edges"]:
        assert _table_digest(p2._read(table)) == _table_digest(
            pipeline_out._read(table)
        ), f"{table} differs between resumed and fresh run"


def test_rerun_idempotent(spark, corpus_path, pipeline_out, tmp_path):
    """Full rerun with resume=False reproduces identical tables
    (deterministic ids — MERGE/INSERT-OR-REPLACE idempotency)."""
    out = str(tmp_path / "rerun_out")
    p = Pipeline(spark, corpus_path, out, run_id="rerun")
    p.run(resume=False)
    assert _table_digest(p.nodes()) == _table_digest(pipeline_out.nodes())
    assert _table_digest(p.edges()) == _table_digest(pipeline_out.edges())


def test_state_rows_and_metrics(pipeline_out):
    rows = pipeline_out.state.rows()
    completed = [r for r in rows if r["status"] == "completed"]
    assert {r["phase_name"] for r in completed} == {
        "discover",
        "extract",
        "link",
        "materialize",
    }
    mat = [r for r in completed if r["phase_name"] == "materialize"][-1]
    assert mat["stats"]["nodes"]["rows"] > 0
    assert mat["stats"]["edges"]["rows"] > 0
    # per-partition lineage manifest present
    assert mat["stats"]["nodes"]["per_partition"]
    assert all(r["watermark"] for r in completed)
    # wall seconds per phase, finer than the whole-second timestamps
    assert all(
        isinstance(r["elapsed_s"], float) and r["elapsed_s"] > 0 for r in completed
    )


def test_bucketed_layout_matches_unbucketed(spark, corpus_path, pipeline_out, tmp_path):
    """Both layouts run one materialize body; only the shaping differs.
    A bucketed full build's tables, bucket column dropped, equal the
    unbucketed build's."""
    out = str(tmp_path / "bucketed_out")
    p = Pipeline(spark, corpus_path, out, run_id="bucketed", n_buckets=1)
    p.run(resume=False)
    for table in ("nodes", "edges", "mentions"):
        assert "bucket" in p._read(table).columns
        assert _table_digest(p._read(table).drop("bucket")) == _table_digest(
            pipeline_out._read(table)
        ), f"{table} differs between the layouts"


def test_turn_doc_excerpt_property(spark):
    """E4 analog: leading markdown heading, else first quoted span,
    else empty (reference: extractJSDoc leading-comment extraction)."""
    import pandas as pd

    from hikma_engine_spark.stages import materialize

    rows = [
        ("c1", 0, "user", "# Release plan\nrest of turn", None, "2025-01-01T00:00:00"),
        ("c1", 1, "user", 'He said "ship it" twice', None, "2025-01-01T00:00:01"),
        ("c1", 2, "user", "## sub heading here", None, "2025-01-01T00:00:02"),
        ("c1", 3, "user", "no doc here", None, "2025-01-01T00:00:03"),
    ]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    docs = {
        r["turn_idx"]: r["properties"]["doc"]
        for r in materialize.turn_nodes(spark.createDataFrame(pdf), embed=False)
        .select("turn_idx", "properties")
        .collect()
    }
    assert docs == {0: "Release plan", 1: "ship it", 2: "sub heading here", 3: ""}


def test_tool_source_ids_match_invokes(spark, corpus_path, pipeline_out):
    """tool_source_ids (two pruned column scans, no triple explode) must
    equal the distinct INVOKES dst set — the contract that lets the
    nodes and edges writes run as concurrent jobs."""
    from pyspark.sql import functions as F

    from hikma_engine_spark.stages.materialize import tool_source_ids

    t = spark.read.parquet(corpus_path)
    mentions = pipeline_out._read("mentions")
    from_sources = {
        r["id"] for r in tool_source_ids(t, mentions).collect()
    }
    from_edges = {
        r["dst"]
        for r in pipeline_out.edges()
        .filter(F.col("edge_type") == "INVOKES")
        .select("dst")
        .distinct()
        .collect()
    }
    assert from_sources == from_edges and len(from_sources) > 0
