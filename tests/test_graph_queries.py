"""Graph-query surface parity (reference graph-query CLI commands) + CLI."""

from __future__ import annotations

import json

import pandas as pd

from hikma_engine_spark.pipeline import Pipeline
from hikma_engine_spark.query import graph_queries as gq


def test_kg_stats(pipeline_out):
    stats = gq.kg_stats(pipeline_out.nodes(), pipeline_out.edges())
    assert set(stats["nodes"]) == {"Conversation", "Turn", "Mention", "Entity", "Tool"}
    assert stats["edges"]["IN_CONV"] == stats["nodes"]["Turn"]
    assert stats["edges"]["IN_TURN"] == stats["nodes"]["Mention"]


def test_entities_in_conversation(pipeline_out, corpus_pdf):
    conv = corpus_pdf.conv_id.iloc[0]
    ents = gq.entities_in_conversation(pipeline_out.edges(), conv).toPandas()
    assert len(ents) > 0
    assert ents.entity_id.str.startswith("entity:").all()


def test_entity_mentioners(pipeline_out):
    res = gq.entity_mentioners(pipeline_out.edges(), "entity:python").toPandas()
    assert len(res) > 0
    assert res.turn_id.str.startswith("turn:").all()


def test_search_nodes_regex(pipeline_out):
    res = gq.search_nodes(pipeline_out.nodes(), r"postgres\w*", limit=10).toPandas()
    assert 0 < len(res) <= 10
    assert res.source_text.str.lower().str.contains("postgres").all()


def test_find_path_mention_to_conv(spark, pipeline_out):
    edges = pipeline_out.edges()
    m = edges.filter("edge_type = 'IN_TURN'").limit(1).collect()[0]
    conv_target = f"conv:{m['conv_id']}"
    path = gq.find_path(edges, m["src"], conv_target, max_depth=4)
    assert path is not None
    assert path[0] == m["src"]
    assert path[-1] == conv_target
    assert len(path) == 3  # mention -> turn -> conv


def test_find_path_absent(spark, pipeline_out):
    assert (
        gq.find_path(pipeline_out.edges(), "entity:python", "conv:doesnotexist", 3)
        is None
    )


def test_cli_index_and_search(spark, corpus_path, tmp_path, capsys):
    from hikma_engine_spark import cli

    out = str(tmp_path / "cli_out")
    rc = cli.main(["index", "--transcripts", corpus_path, "--out", out])
    assert rc == 0
    idx_line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert idx_line["stats"]["node_types"]["Turn"] > 0

    rc = cli.main(["search", "--out", out, "--query", "kubernetes", "-k", "3"])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 3
    assert lines[0]["rank"] == 1

    rc = cli.main(["stats", "--out", out])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["nodes"]["Entity"] > 0
    p = Pipeline(spark, "", out)
    assert stats == gq.kg_stats(p.nodes(), p.edges())


def test_cli_stats_current_after_incremental(spark, tiny_path, tmp_path, capsys):
    """`stats` reads parquet footers, not a stored summary: after an
    incremental run (one conversation deleted, one extended) it still
    equals the groupBy counts over the tables."""
    from hikma_engine_spark import cli

    out = str(tmp_path / "cli_incr")
    assert cli.main(
        ["index", "--transcripts", tiny_path, "--out", out, "--buckets", "8"]
    ) == 0
    v1 = pd.read_parquet(tiny_path)
    extra = v1[v1.conv_id == "c1"].tail(1).copy()
    extra["turn_idx"] = extra["turn_idx"] + 1
    extra["text"] = "postgres depends on redis and kafka now"
    v2_path = str(tmp_path / "v2.parquet")
    pd.concat([v1[v1.conv_id != "c2"], extra]).to_parquet(
        v2_path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )
    assert cli.main(
        ["incremental", "--transcripts", v2_path, "--out", out, "--buckets", "8"]
    ) == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])[
        "changed_convs"
    ] == 2

    assert cli.main(["stats", "--out", out]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    p = Pipeline(spark, "", out)
    assert stats == gq.kg_stats(p.nodes(), p.edges())
    assert "Mention" in stats["nodes"]
