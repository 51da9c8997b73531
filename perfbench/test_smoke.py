"""Smoke tests for the benchmark itself: every declared metric is
emitted with its unit, and every correctness check rejects a deliberately
corrupted output. Run from the repository root:

    python -m pytest perfbench -q -p no:cacheprovider

Takes about five minutes on 4 cores (two traced workload runs in one
session, plus a small KG and star schema for the corruption checks).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

import run

sys.path.insert(0, run.ROOT)

import checks  # noqa: E402
import inputs  # noqa: E402
import workloads  # noqa: E402

SPEC = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    return str(tmp_path_factory.mktemp("perfbench"))


@pytest.fixture(scope="module")
def spark(work):
    run.configure_env(work)
    from hikma_engine_spark.session import get_spark

    s = get_spark(app_name="perfbench-smoke", cores=run.CORES, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    yield s
    run.stop_spark(s)


@pytest.fixture(scope="module")
def traced(spark, work):
    out = {}
    for name, runner in workloads.RUNNERS.items():
        ctx = workloads.Ctx(spark, os.path.join(work, name), seed=3, seconds=1, trace=True)
        os.makedirs(ctx.work)
        out[name] = runner(ctx)
    return out


def test_benchmark_json_declares_the_runners():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.RUNNERS)
    assert {m["name"] for m in SPEC["end_to_end"]} == {"op_cpu_s", "setup_s"}


def test_every_metric_emitted_with_its_unit(traced):
    exercised = set()
    for name, res in traced.items():
        assert res.failed == 0 and not res.problems, (name, res.problems)
        for trace, declared in ((False, SPEC["end_to_end"]), (True, SPEC["per_layer"])):
            metrics, missing = run.report_metrics(SPEC, res, trace, 1.0, 100.0)
            assert list(metrics) == [m["name"] for m in declared]
            for m in declared:
                assert metrics[m["name"]]["unit"] == m["unit"]
                assert np.isfinite(metrics[m["name"]]["value"])
            if trace:
                exercised |= {m["name"] for m in declared} - set(missing)
            else:
                assert not missing and all(v["value"] > 0 for v in metrics.values())
    # each layer is measured on one workload or the other
    assert exercised == {m["name"] for m in SPEC["per_layer"]}


def test_run_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(run.HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "index_full", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


# ---- each correctness check rejects a corrupted output ----

@pytest.fixture(scope="module")
def kg(spark, work):
    from hikma_engine_spark.pipeline import Pipeline

    corpus = inputs.corpus(400, seed=5, big_conv_every=0, big_conv_turns=0)
    path = inputs.write_parquet(corpus, os.path.join(work, "toy.parquet"))
    p = Pipeline(spark, path, os.path.join(work, "toy_kg"))
    p.run(resume=False)
    return corpus, p


def test_referential_check(kg):
    _corpus, p = kg
    nodes = p.nodes()
    assert checks.referential(nodes, p.edges()) == []
    assert checks.referential(nodes.filter("node_type != 'Entity'"), p.edges())


def test_oracle_triples_check(kg):
    corpus, p = kg
    edges = p.edges().select("src", "edge_type", "dst", "conv_id").toPandas()
    assert checks.triples_match_oracle(corpus, edges, seed=1) == []
    dropped = edges[edges["edge_type"] != "IN_TURN"]
    assert checks.triples_match_oracle(corpus, dropped, seed=1)
    renamed = edges.assign(dst=edges["dst"].where(edges["edge_type"] != "MENTIONS", "entity:x"))
    assert checks.triples_match_oracle(corpus, renamed, seed=1)


def test_digest_check(kg):
    from pyspark.sql import functions as F

    _corpus, p = kg
    nodes = p.nodes()
    assert checks.digest(nodes) == checks.digest(nodes.orderBy(F.rand(1)))
    changed = nodes.withColumn(
        "source_text",
        F.when(F.col("id") == nodes.first()["id"], F.lit("x")).otherwise(F.col("source_text")),
    )
    assert checks.digest(changed) != checks.digest(nodes)
    assert checks.digest(nodes.limit(nodes.count() - 1)) != checks.digest(nodes)


def test_search_checks(kg):
    _corpus, p = kg
    nodes, edges = p.nodes(), p.edges()
    nodes_pdf = nodes.select("id", "node_type", "source_text", "embedding").toPandas()
    edges_pdf = edges.select("src", "dst", "edge_type", "conv_id", "turn_idx").toPandas()
    emb = checks.embedding_matrix(nodes_pdf)
    turn = sorted(nodes_pdf.loc[nodes_pdf["node_type"] == "Turn", "id"])[0]
    conv = sorted(edges_pdf["conv_id"].dropna())[0]
    ent = edges_pdf.loc[edges_pdf["edge_type"] == "MENTIONS", "dst"].iloc[0]
    cases = [("semantic", "postgres"), ("similar", turn), ("text", "postgres"),
             ("metadata", "kafka"), ("name", "redis"), ("structural", "kafka"),
             ("conv_entities", conv), ("mentioners", ent)]
    for op, arg in cases:
        out = workloads._search_call(op, arg, nodes, edges).toPandas()
        assert len(out), op
        assert workloads._search_problems(op, arg, out, nodes_pdf, edges_pdf, emb) == [], op
        bad = out.iloc[1:]  # the best hit lost
        assert workloads._search_problems(op, arg, bad, nodes_pdf, edges_pdf, emb), op
    mention = edges_pdf.loc[edges_pdf["edge_type"] == "IN_TURN"].iloc[0]
    src, dst = mention["src"], f"conv:{mention['conv_id']}"
    path = workloads._search_call("path", (src, dst), nodes, edges)
    assert path is not None and len(path) == 3  # mention -> turn -> conversation
    assert checks.path_is_shortest(edges_pdf, src, dst, path, workloads.PATH_MAX_DEPTH) == []
    assert checks.path_is_shortest(edges_pdf, src, dst, [src, dst], workloads.PATH_MAX_DEPTH)


def test_entry_oracle_check(spark, work):
    import __spark_entry__ as entry

    sf = inputs.star_tables(5, os.path.join(work, "star"))
    oracle = checks.EntryOracle(sf, entry.oracle_sql())
    try:
        pdf = entry.queries()["g_pagerank_entities"](spark, sf).toPandas()
        assert oracle.problems("g_pagerank_entities", pdf) == []
        assert oracle.problems("g_pagerank_entities", pdf.iloc[1:])
        num = pdf.select_dtypes("number").columns[0]
        assert oracle.problems("g_pagerank_entities", pdf.assign(**{num: pdf[num] + 1}))
    finally:
        oracle.close()
