"""Robustness: empty/null/unicode inputs through the full pipeline."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from hikma_engine_spark.pipeline import Pipeline


def _write(pdf: pd.DataFrame, path: str) -> str:
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf.to_parquet(
        path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )
    return path


def test_pipeline_on_degenerate_turns(spark, tmp_path):
    rows = pd.DataFrame(
        {
            "conv_id": ["c1", "c1", "c1", "c2"],
            "turn_idx": [0, 1, 2, 0],
            "role": ["user", "assistant", "tool", "user"],
            "text": [
                None,                      # null text
                "",                        # empty text
                "Δ unicode → postgresql 🚀 und étoile",  # unicode + entity
                "   ",                     # whitespace only
            ],
            "tool": [None, None, "shell", None],
            "ts": pd.to_datetime(["2025-01-01"] * 4),
        }
    )
    path = _write(rows, str(tmp_path / "deg.parquet"))
    out = str(tmp_path / "deg_out")
    p = Pipeline(spark, path, out, run_id="deg")
    p.run()

    nodes = p.nodes()
    turns = nodes.filter(F.col("node_type") == "Turn").toPandas()
    assert len(turns) == 4
    # null/empty text preserved as-is on the invariant column
    by_key = turns.set_index(["conv_id", "turn_idx"]).source_text
    assert by_key.loc[("c1", 0)] is None or pd.isna(by_key.loc[("c1", 0)])
    assert by_key.loc[("c1", 1)] == ""
    assert "🚀" in by_key.loc[("c1", 2)]

    edges = p.edges().toPandas()
    eset = set(zip(edges.src, edges.edge_type, edges.dst))
    assert ("turn:c1#2", "MENTIONS", "entity:postgresql") in eset
    assert ("turn:c1#2", "INVOKES", "tool:shell") in eset
    # the german marker 'und' inside unicode text feeds lang features fine
    assert ("turn:c1#0", "IN_CONV", "conv:c1") in eset


def test_pipeline_on_empty_corpus(spark, tmp_path):
    rows = pd.DataFrame(
        {
            "conv_id": pd.Series([], dtype="string"),
            "turn_idx": pd.Series([], dtype="int32"),
            "role": pd.Series([], dtype="string"),
            "text": pd.Series([], dtype="string"),
            "tool": pd.Series([], dtype="string"),
            "ts": pd.Series([], dtype="datetime64[us]"),
        }
    )
    path = str(tmp_path / "empty.parquet")
    rows.to_parquet(path, index=False)
    out = str(tmp_path / "empty_out")
    p = Pipeline(spark, path, out, run_id="empty")
    p.run()
    assert p.nodes().count() == 0
    assert p.edges().count() == 0


def test_knn_join_degenerate_inputs(spark):
    """kNN join edge cases: k larger than the corpus returns n-1
    neighbors per row; zero vectors don't crash (cosine vs zero is 0);
    a 2-row corpus works on both paths."""
    import numpy as np

    from hikma_engine_spark.operators import similarity_search

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 0.0, 0.0]),  # zero vector
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = similarity_search.knn_join_exact(df, k=10).toPandas()
    assert len(got) == 3 * 2  # n * (n-1), k clamped by availability
    assert set(got["a"]) == {0, 1, 2}
    z = got[got.a == 2]
    assert (z["cosine"] == 0.0).all()  # zero vector scores 0 everywhere

    two = spark.createDataFrame(rows[:2], "vec_id long, embedding array<double>")
    g2 = similarity_search.knn_join_exact(
        two, k=5, broadcast_limit=1, block_size=1
    ).toPandas()
    assert len(g2) == 2 and set(zip(g2.a, g2.b)) == {(0, 1), (1, 0)}


def test_incremental_dedup_empty_batch(spark):
    """An empty new batch yields zero pairs and zero new index rows —
    the nightly no-op must not fail."""
    from hikma_engine_spark.operators import dedup

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha beta gamma")], ["doc_id", "text"]
    )
    idx = dedup.dedup_index(docs, "doc_id", "text")
    empty = spark.createDataFrame([], "doc_id long, text string")
    pairs, new_rows = dedup.incremental_minhash_pairs(
        empty, idx, "doc_id", "text", threshold=0.5
    )
    assert pairs.count() == 0 and new_rows.count() == 0


def test_embedding_ops_quarantine_null_embeddings(spark):
    """A null embedding (failed encode) must not kill an Arrow task in
    any embedding operator — it's dropped as a quarantine row."""
    from hikma_engine_spark.operators import dedup, similarity_search

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.99, 0.01]),
        (2, None),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = dedup.embedding_near_dup_pairs(
        df, "vec_id", "embedding", threshold=0.9, n_planes=4, n_tables=2
    ).toPandas()
    assert set(zip(pairs.a, pairs.b)) == {(0, 1)}

    knn = similarity_search.knn_join_exact(df, k=5).toPandas()
    assert set(knn["a"]) == {0, 1} and 2 not in set(knn["b"])

    cents = similarity_search.train_ivf_centroids(
        df.filter("embedding is not null"), n_cells=2, seed=7
    )
    wc = similarity_search.add_ivf_cells(
        df.filter("embedding is not null"), cents
    ).unionByName(
        df.filter("embedding is null").withColumn(
            "ivf_cell", F.lit(None).cast("int")
        )
    )
    ivf = similarity_search.knn_join_ivf(wc, cents, k=5, nprobe=2).toPandas()
    assert set(ivf["a"]) == {0, 1} and 2 not in set(ivf["b"])
