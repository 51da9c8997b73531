"""Query layer: semantic / text / metadata / hybrid / find-similar
(reference behaviors from §3.2 / enhanced-search-service)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hikma_engine_spark.query import search


def test_semantic_search_topk(spark, pipeline_out):
    nodes = pipeline_out.nodes()
    res = search.semantic_search(
        nodes, "postgresql migration plan", k=5, node_types=["Turn"]
    ).toPandas()
    assert len(res) == 5
    assert list(res["rank"]) == [1, 2, 3, 4, 5]
    assert res.similarity.is_monotonic_decreasing
    assert "embedding" not in res.columns  # projection strips the vector
    assert (res.node_type == "Turn").all()


def test_semantic_search_min_similarity(spark, pipeline_out):
    nodes = pipeline_out.nodes()
    res = search.semantic_search(nodes, "postgresql", k=50, min_similarity=0.4)
    assert res.filter(F.col("similarity") < 0.4).count() == 0


def test_semantic_search_query_relevance(spark, pipeline_out):
    """A query naming an entity must score that entity at cosine 1.0 and
    rank it at the top (modulo 64-dim hash-bucket collisions between
    single-token surfaces, which tie at 1.0 — hence top-2, not top-1)."""
    nodes = pipeline_out.nodes()
    res = search.semantic_search(
        nodes, "kubernetes", k=3, node_types=["Entity"]
    ).toPandas()
    hit = res[res.id == "entity:kubernetes"]
    assert len(hit) == 1
    assert hit.iloc[0]["rank"] <= 2
    assert abs(hit.iloc[0].similarity - 1.0) < 1e-6


def test_text_search(spark, pipeline_out):
    nodes = pipeline_out.nodes()
    res = search.text_search(nodes, "kubernetes", k=10).toPandas()
    assert len(res) > 0
    assert res.source_text.str.contains("kubernetes").all()
    # T3 heuristic: shortest matches first
    lens = res.source_text.str.len()
    assert lens.is_monotonic_increasing


def test_metadata_search(spark, pipeline_out):
    nodes = pipeline_out.nodes()
    res = search.metadata_search(
        nodes, node_types=["Turn"], prop_equals={"role": "tool"}, limit=20
    ).toPandas()
    assert 0 < len(res) <= 20
    assert all(p["role"] == "tool" for p in res.properties)


def test_hybrid_search_dedups_best_wins(spark, pipeline_out):
    nodes = pipeline_out.nodes()
    res = search.hybrid_search(nodes, "postgresql", k=10).toPandas()
    assert len(res) <= 10
    assert res.id.is_unique
    assert list(res["rank"]) == list(range(1, len(res) + 1))


def test_comprehensive_search(spark, pipeline_out):
    res = search.comprehensive_search(pipeline_out.nodes(), "postgresql", k=12).toPandas()
    assert 0 < len(res) <= 12
    assert res.id.is_unique
    assert list(res["rank"]) == list(range(1, len(res) + 1))
    # semantic hits (weight 3) rank above text (2) and metadata (1)
    assert res.source_weight.is_monotonic_decreasing


def test_facets(spark, pipeline_out):
    res = search.semantic_search(pipeline_out.nodes(), "postgresql", k=20)
    f = search.facets(res, columns=("node_type",))
    assert sum(f["node_type"].values()) == res.count()
    assert set(f["node_type"]) <= {"Turn", "Entity", "Mention", "Conversation", "Tool"}


def test_find_similar(spark, pipeline_out):
    nodes = pipeline_out.nodes()
    res = search.find_similar(nodes, "entity:postgresql", k=5).toPandas()
    assert len(res) == 5
    assert "entity:postgresql" not in set(res.id)
    # alias surfaces embed over near-identical text → should rank high
    assert res.iloc[0].similarity > 0.0


def test_name_search_case_tiers(spark, pipeline_out):
    """T4 CASE ranking: exact name < prefix < substring tiers."""
    nodes = pipeline_out.nodes()
    res = search.name_search(nodes, "postgres", k=20).toPandas()
    assert len(res) > 0
    assert res.tier.is_monotonic_increasing
    exact = res[res.tier == 1]
    assert (exact.source_text.str.lower() == "postgres").all()
    pref = res[res.tier == 2]
    assert pref.source_text.str.lower().str.startswith("postgres").all()


def test_metadata_search_date_range(spark, pipeline_out):
    nodes = pipeline_out.nodes()
    all_ts = sorted(
        p["ts"]
        for p in nodes.filter("node_type = 'Turn'").select("properties").toPandas().properties
        if p.get("ts")
    )
    lo, hi = all_ts[0], all_ts[len(all_ts) // 2]
    res = search.metadata_search(
        nodes, node_types=["Turn"], date_range=(lo, hi), limit=10_000
    ).toPandas()
    assert len(res) > 0
    assert all(lo <= p["ts"] <= hi for p in res.properties)
    # outside-range rows are excluded
    n_in_range = sum(1 for t in all_ts if lo <= t <= hi)
    assert len(res) == n_in_range


def test_hybrid_search_temporal_boost(spark, pipeline_out):
    """Identical-text nodes differing only in ts: with a temporal
    weight the newest must rank first; with temporal weight 0 the tie
    is broken by id (round-1 behavior)."""
    rows = [
        (
            f"turn:tconv#{i}",
            "Turn",
            "tconv",
            "we should benchmark postgresql here",
            None,
            {"ts": f"2025-01-0{i + 1}T00:00:00Z", "role": "user"},
        )
        for i in range(5)
    ]
    nodes = spark.createDataFrame(
        rows,
        "id string, node_type string, conv_id string, source_text string, "
        "embedding array<float>, properties map<string,string>",
    )
    res = search.hybrid_search(
        nodes, "postgresql", k=5, weights=(0.0, 0.2, 0.8)
    ).toPandas()
    ts = [p["ts"] for p in res.properties]
    assert ts == sorted(ts, reverse=True)  # newest first
    res0 = search.hybrid_search(
        nodes, "postgresql", k=5, weights=(0.0, 1.0, 0.0)
    ).toPandas()
    assert list(res0.id) == sorted(res0.id)  # ts ignored, id tie-break


def _mk_nodes(spark, rows):
    from pyspark.sql.types import (
        ArrayType, DoubleType, MapType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("id", StringType()),
        StructField("node_type", StringType()),
        StructField("source_text", StringType()),
        StructField("embedding", ArrayType(DoubleType())),
        StructField("properties", MapType(StringType(), StringType())),
    ])
    return spark.createDataFrame(rows, schema)


def test_comprehensive_quota_mapping_matches_reference(spark):
    """r4 ADVICE item 1: the reference gives METADATA the 30% quota and
    text 20% (search-service.ts:724-750). With k=20 and 12 rows that
    only the metadata source matches (uppercase text defeats the
    case-sensitive text source; embeddings NULL defeats semantic),
    exactly ceil(20*0.3)=6 metadata rows must survive — the old
    swapped mapping yielded 4."""
    rows = [
        (f"n{i:02d}", "Turn", f"XX ALPHA {i:02d}", None, {}) for i in range(12)
    ]
    res = search.comprehensive_search(_mk_nodes(spark, rows), "alpha", k=20).toPandas()
    assert (res.source_weight == 2).sum() == 6


def test_comprehensive_rank_score_before_exact(spark):
    """r4 ADVICE item 1: rankComprehensiveResults compares similarity
    BEFORE exact-name (search-service.ts:948-982) — a higher-cosine
    non-exact hit must outrank an exact-name lower-cosine hit of the
    same source weight."""
    from hikma_engine_spark.functions.embeddings import embed_text

    q = "spark shuffle tuning"
    rows = [
        # exact name, weaker vector
        ("b", "Turn", q, [float(x) for x in embed_text("unrelated topic")], {}),
        # non-exact, perfect vector
        ("a", "Turn", q + " notes", [float(x) for x in embed_text(q)], {}),
    ]
    res = search.comprehensive_search(_mk_nodes(spark, rows), q, k=10).toPandas()
    res = res.set_index("id")
    assert res.loc["a", "rank"] < res.loc["b", "rank"]
    assert res.loc["b", "exact"] == 1 and res.loc["a", "exact"] == 0


def test_comprehensive_search_has_name_source(spark, pipeline_out):
    """4th source (file-name analog) contributes rows with weight 1."""
    nodes = pipeline_out.nodes()
    res = search.comprehensive_search(nodes, "postgres", k=40).toPandas()
    assert set(res.source_weight) >= {4, 1} or set(res.source_weight) >= {4, 2}
    assert res.source_weight.is_monotonic_decreasing


def test_result_kind_classification(spark):
    rows = [
        ("a", "is postgres faster than redis?"),
        ("b", "call:linter please"),
        ("c", "```python\nprint(1)\n```"),
        ("d", "the deploy finished fine."),
        ("e", "Run the benchmark again"),
        ("f", ""),
    ]
    df = spark.createDataFrame(rows, ["id", "source_text"])
    got = {
        r["id"]: r["result_kind"]
        for r in search.with_result_kind(df).collect()
    }
    assert got == {
        "a": "question",
        "b": "command",
        "c": "code",
        "d": "statement",
        "e": "command",
        "f": "empty",
    }
    # classic 4-space-indented code must classify as code (the indent
    # check runs on the RAW text, before trim)
    df2 = spark.createDataFrame(
        [("g", "    print(x)"), ("h", "intro line\n    indented_code()")],
        ["id", "source_text"],
    )
    got2 = {r["id"]: r["result_kind"] for r in search.with_result_kind(df2).collect()}
    assert got2 == {"g": "code", "h": "code"}


def test_temporal_score_unparseable_ts_scores_zero(spark):
    """A present-but-corrupt ts string must score 0, not ride the
    null-skipping greatest() to a maximum recency boost."""
    df = spark.createDataFrame(
        [("ok", "2025-01-01T00:00:00Z"), ("bad", "not-a-date"), ("none", None)],
        ["id", "ts"],
    )
    out = {
        r["id"]: r["s"]
        for r in df.select(
            "id",
            search.temporal_score(F.col("ts"), "2025-01-02T00:00:00Z").alias("s"),
        ).collect()
    }
    assert out["bad"] == 0.0 and out["none"] == 0.0
    assert 0.4 < out["ok"] <= 0.51  # one day old → 1/(1+1)


def test_result_kind_facets(spark, pipeline_out):
    res = search.with_result_kind(
        search.semantic_search(pipeline_out.nodes(), "postgresql", k=20)
    )
    f = search.facets(res, columns=("result_kind",))
    assert sum(f["result_kind"].values()) == res.count()


def test_hybrid_search_structural_dimension(spark):
    """Round-2 verdict item 7: the middle hybrid weight scores a REAL
    structure signal (node-type gate + name tier), not text presence —
    with structural weight dominant, an exact-name Entity outranks a
    Turn whose text merely contains the query; with semantic weight
    dominant the embedding similarity decides."""
    rows = [
        ("entity:kafka", "Entity", None, "kafka", None, {}),
        ("entity:kafka-connect", "Entity", None, "kafka connect", None, {}),
        ("turn:c#0", "Turn", "c", "we discussed kafka at length today", None, {}),
    ]
    nodes = spark.createDataFrame(
        rows,
        "id string, node_type string, conv_id string, source_text string, "
        "embedding array<float>, properties map<string,string>",
    )
    res = search.hybrid_search(nodes, "kafka", k=3, weights=(0.0, 1.0, 0.0)).toPandas()
    # only structural nodes score; exact name (tier 1) first, prefix next
    assert list(res.id[:2]) == ["entity:kafka", "entity:kafka-connect"]
    got = dict(zip(res.id, res.score))
    assert abs(got["entity:kafka"] - 1.0) < 1e-9
    assert abs(got["entity:kafka-connect"] - 0.5) < 1e-9
    # Turn appears only via the (zero-weighted) semantic source, score 0
    assert got.get("turn:c#0", 0.0) == 0.0
    # dimensions column mirrors identifySearchDimensions
    dims = dict(zip(res.id, res.dimensions))
    assert "structural" in dims["entity:kafka"]
    assert "structural" not in dims.get("turn:c#0", [])
