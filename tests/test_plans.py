"""Plan-shape assertions: pushdown, broadcast, no cartesian, bounded
shuffles — the explain-driven part of the performance contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from hikma_engine_spark.plans import inspect
from hikma_engine_spark.stages import extract, link


def test_scan_column_pruning(spark, corpus_path):
    df = spark.read.parquet(corpus_path).select("conv_id", "turn_idx")
    rs = inspect.read_schema(df)
    assert "text" not in rs  # projection reached the scan
    assert "conv_id" in rs


def test_alias_join_is_broadcast(spark, pipeline_out):
    mentions = pipeline_out._read("mentions")
    surfaces = link.observed_surfaces(mentions)
    plan_df = link.alias_edges(surfaces)
    assert inspect.has_broadcast_join(plan_df)
    assert not inspect.has_cartesian(plan_df)


def test_triple_assembly_is_shuffle_free(spark, pipeline_out, corpus_path):
    """The core scale property: assembling the full triple set adds NO
    exchange beyond the input rebalance."""
    t = spark.read.parquet(corpus_path)  # multi-split path: no rebalance
    mentions = pipeline_out._read("mentions")
    triples = extract.assemble_triples(t, mentions)
    assert inspect.shuffle_count(triples) == 0


def test_semantic_search_no_shuffle_before_topk(spark, pipeline_out):
    from hikma_engine_spark.query import search

    res = search.semantic_search(pipeline_out.nodes(), "postgresql", k=5)
    plan = inspect.physical_plan(res, "simple")
    assert "TakeOrderedAndProject" in plan  # top-k, not a global sort


def test_ivf_cell_is_a_partition_pruning_key(spark, tmp_path):
    """The ANN scale claim made concrete: persist embeddings
    partitioned by ivf_cell, and an ivf_topk-shaped cell filter becomes
    a PartitionFilter — directories for unprobed cells are never
    opened, and the pruned scan reads fewer files than the table
    holds."""
    import numpy as np

    from hikma_engine_spark.operators import similarity_search

    rng = np.random.RandomState(2)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity_search.train_ivf_centroids(df, n_cells=8, seed=7)
    out = str(tmp_path / "emb_by_cell")
    similarity_search.add_ivf_cells(df, cents).write.partitionBy(
        "ivf_cell"
    ).parquet(out)

    table = spark.read.parquet(out)
    probed = table.filter(F.col("ivf_cell").isin([0, 1]))
    assert inspect.has_partition_filter(probed, "ivf_cell")
    n_files_all = table.select(
        F.input_file_name().alias("f")
    ).distinct().count()
    n_files_probed = probed.select(
        F.input_file_name().alias("f")
    ).distinct().count()
    assert 0 < n_files_probed < n_files_all


def test_knn_join_plans_use_group_limit_and_bounded_shuffles(spark):
    """kNN-join scale contract: (a) the per-row rank filter compiles to
    WindowGroupLimit with a PARTIAL pass before the exchange — only
    each partition's top-k rides the final shuffle, not all candidate
    partials; (b) the IVF variant's plan has exactly 3 exchanges
    (probe side, base side, rank) — candidate PAIRS never ride a
    shuffle."""
    import numpy as np

    from hikma_engine_spark.operators import similarity_search

    rng = np.random.RandomState(0)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = similarity_search.knn_join_exact(df, k=3, broadcast_limit=50)
    plan = inspect.physical_plan(exact, "simple")
    assert plan.count("WindowGroupLimit") >= 2  # Partial + Final

    cents = similarity_search.train_ivf_centroids(df, n_cells=4, seed=7)
    wc = similarity_search.add_ivf_cells(df, cents)
    ivf = similarity_search.knn_join_ivf(wc, cents, k=3, nprobe=2)
    ivf_plan = inspect.physical_plan(ivf, "simple")
    assert ivf_plan.count("WindowGroupLimit") >= 2
    assert inspect.shuffle_count(ivf) == 3


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Bucketing both join sides on the key co-locates the join: the
    SortMergeJoin runs with ZERO Exchange operators (the cluster-scale
    strategy for repeated big-big joins — SURVEY §4: bucketing replaces
    the reference's B-tree indexes)."""
    left = spark.range(0, 10_000).selectExpr("id AS k", "id * 2 AS v1")
    right = spark.range(0, 10_000).selectExpr("id AS k", "id * 3 AS v2")
    for name, df in (("bkt_left", left), ("bkt_right", right)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(8, "k")
            .sortBy("k")
            .option("path", str(tmp_path / name))
            .mode("overwrite")
            .saveAsTable(name)
        )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
        assert inspect.shuffle_count(joined) == 0
        assert joined.count() == 10_000
        # control: the same join over UNBUCKETED parquet shuffles both sides
        left.write.mode("overwrite").parquet(str(tmp_path / "plain_l"))
        right.write.mode("overwrite").parquet(str(tmp_path / "plain_r"))
        plain = spark.read.parquet(str(tmp_path / "plain_l")).join(
            spark.read.parquet(str(tmp_path / "plain_r")), "k"
        )
        assert inspect.shuffle_count(plain) >= 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for name in ("bkt_left", "bkt_right"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_effective_scan_splits_row_group_aware(spark, tmp_path):
    """getNumPartitions() counts byte-range splits, which Spark pads to
    defaultParallelism even when ONE row group holds every row (= one
    non-empty task). The probe must see through that — and not force a
    shuffle on a well-laid-out input."""
    import pandas as pd

    from hikma_engine_spark.splits import effective_scan_splits, rebalance_scan

    pdf = pd.DataFrame({"a": range(100_000), "b": ["x"] * 100_000})
    single = str(tmp_path / "single.parquet")
    many = str(tmp_path / "many.parquet")
    pdf.to_parquet(single, index=False)  # pandas default: ONE row group
    pdf.to_parquet(many, index=False, row_group_size=2000)  # 50 row groups

    target = spark.sparkContext.defaultParallelism
    df_s = spark.read.parquet(single)
    df_m = spark.read.parquet(many)
    assert effective_scan_splits(df_s, target) == 1
    assert effective_scan_splits(df_m, target) >= min(
        target, df_m.rdd.getNumPartitions()
    )
    # rebalance repartitions the degenerate layout only
    assert rebalance_scan(df_s).rdd.getNumPartitions() == target
    # in-memory DataFrames fall back to getNumPartitions (no crash)
    mem = spark.range(10)
    assert effective_scan_splits(mem, target) >= 1
