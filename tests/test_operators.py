"""operators/: dedup family, similarity search, graph operators."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hikma_engine_spark.operators import dedup, similarity_search


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over a lazy dog"),    # near dup
        (3, "completely different content about databases and queries"),
        (4, "THE  quick   Brown fox jumps over the lazy dog"),  # ws/case dup of 0
        (5, "short"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(spark, docs):
    groups = dedup.exact_duplicates(docs, "doc_id", "text").toPandas()
    assert len(groups) == 1
    assert sorted(groups.iloc[0].doc_ids) == [0, 1, 4]


def test_ngram_jaccard_pairs(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.35)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert (0, 1) in got and (0, 4) in got and (1, 4) in got
    assert (0, 2) in got  # one-word edit → J = 4/10 = 0.4
    assert not any(3 in p or 5 in p for p in got)
    jac = {(r["a"], r["b"]): r["jaccard"] for r in pairs.collect()}
    assert abs(jac[(0, 2)] - 0.4) < 1e-9
    assert abs(jac[(0, 1)] - 1.0) < 1e-9


def test_minhash_pairs_match_exact(spark, docs):
    mh = {
        (r["a"], r["b"])
        for r in dedup.minhash_pairs(
            docs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    exact = {
        (r["a"], r["b"])
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert mh == exact  # LSH blocking at this size must not lose pairs


def test_incremental_minhash_equals_full(spark, docs, tmp_path):
    """Incremental dedup against a persisted index == the full-corpus
    run restricted to pairs touching the new batch — WITHOUT the old
    text (the index round-trips through parquet; the operator's API
    never sees the indexed corpus's text column)."""
    old = docs.filter("doc_id <= 3")
    new = docs.filter("doc_id > 3")
    idx_path = str(tmp_path / "dedup_index")
    dedup.dedup_index(old, "doc_id", "text").write.parquet(idx_path)
    idx = spark.read.parquet(idx_path)

    pairs, new_rows = dedup.incremental_minhash_pairs(
        new, idx, "doc_id", "text", threshold=0.5
    )
    got = {(r["a"], r["b"]): r["jaccard"] for r in pairs.collect()}
    full = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.minhash_pairs(docs, "doc_id", "text", threshold=0.5).collect()
        if r["a"] > 3 or r["b"] > 3
    }
    assert got == full and (0, 4) in got  # ws/case dup crosses the batch line
    # the returned index rows extend the persisted index: appending
    # them and running the NEXT batch must also work
    new_rows.write.mode("append").parquet(idx_path)
    idx2 = spark.read.parquet(idx_path)
    assert idx2.count() == docs.count()
    batch2 = spark.createDataFrame(
        [(6, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    pairs2, _ = dedup.incremental_minhash_pairs(
        batch2, idx2, "doc_id", "text", threshold=0.5
    )
    got2 = {(r["a"], r["b"]) for r in pairs2.collect()}
    assert {(0, 6), (1, 6), (4, 6)} <= got2
    assert all(6 in p for p in got2)  # only pairs touching the new batch


def test_incremental_minhash_estimate_mode(spark, docs):
    """verify='estimate' scores by MinHash component agreement — the
    shingle-free index path. Exact dups estimate at 1.0; the estimator
    finds the same high-threshold pairs as exact mode here, and the
    index passed in may omit the sh column entirely."""
    old = docs.filter("doc_id <= 3")
    new = docs.filter("doc_id > 3")
    idx_no_sh = dedup.dedup_index(old, "doc_id", "text").drop("sh")
    pairs, _ = dedup.incremental_minhash_pairs(
        new, idx_no_sh, "doc_id", "text", threshold=0.5, verify="estimate"
    )
    got = {(r["a"], r["b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(0, 4)] == 1.0  # ws/case dup: identical shingles → all components agree
    exact_pairs, _ = dedup.incremental_minhash_pairs(
        new, dedup.dedup_index(old, "doc_id", "text"), "doc_id", "text",
        threshold=0.5,
    )
    assert set(got) == {(r["a"], r["b"]) for r in exact_pairs.collect()}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="verify must be"):
        dedup.incremental_minhash_pairs(
            new, idx_no_sh, "doc_id", "text", verify="bogus"
        )


def test_incremental_minhash_on_overlap(spark, docs):
    """r4 ADVICE item 2: a doc_id present in BOTH the persisted index
    and the new batch (replay/re-ingestion) violates the operator's
    id-disjointness precondition. 'error' (default) raises naming the
    id; 'replace' drops the stale index row so the new batch's version
    is compared against the rest of the corpus (and the pair set
    matches a from-scratch run on the replaced corpus);
    'assume_disjoint' skips the probe."""
    old = docs.filter("doc_id <= 3")
    idx = dedup.dedup_index(old, "doc_id", "text")
    # replay doc 3 with NEW text that now near-dups doc 0, plus doc 4
    replay = spark.createDataFrame(
        [(3, "the quick brown fox jumps over a lazy dog"),
         (4, "THE  quick   Brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    with pytest.raises(ValueError, match="both the persisted index"):
        dedup.incremental_minhash_pairs(replay, idx, "doc_id", "text")

    pairs, new_rows = dedup.incremental_minhash_pairs(
        replay, idx, "doc_id", "text", threshold=0.35, on_overlap="replace"
    )
    got = {(r["a"], r["b"]): r["jaccard"] for r in pairs.collect()}
    # from-scratch truth on the replaced corpus (docs 0-2 old + replayed 3,4)
    replaced = old.filter("doc_id < 3").unionByName(replay)
    full = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.minhash_pairs(
            replaced, "doc_id", "text", threshold=0.35
        ).collect()
        if 3 in (r["a"], r["b"]) or 4 in (r["a"], r["b"])
    }
    assert got == full
    assert (0, 3) in got  # replayed text's NEW near-dup is found...
    # ...and exactly one jaccard per pair (no conflicting duplicates)
    assert len(pairs.groupBy("a", "b").count().filter("count > 1").take(1)) == 0
    # new_index_rows carries the replayed ids for the caller's upsert
    assert {r["doc_id"] for r in new_rows.select("doc_id").collect()} == {3, 4}

    # assume_disjoint: no probe, no raise (caller vouches)
    pairs2, _ = dedup.incremental_minhash_pairs(
        replay, idx, "doc_id", "text", threshold=0.35,
        on_overlap="assume_disjoint",
    )
    pairs2.collect()  # runs; semantics undefined under violation by contract

    with pytest.raises(ValueError, match="on_overlap must be"):
        dedup.incremental_minhash_pairs(
            replay, idx, "doc_id", "text", on_overlap="bogus"
        )


def test_substring_duplicate_spans(spark):
    boiler = "creative commons attribution license applies to this document text"
    rows = [
        (0, "alpha beta gamma " + boiler + " delta epsilon"),
        (1, boiler + " zeta eta theta iota kappa"),
        (2, "totally unrelated content about orbital mechanics and rocket equations"),
        # 8-token phrase repeated twice WITHIN one doc only → min_docs
        # counts distinct documents, so this must not be flagged
        (3, "repeat phrase one two three four five six "
            "repeat phrase one two three four five six"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = dedup.substring_duplicate_spans(df, "doc_id", "text", n=8).toPandas()
    got = {
        r.doc_id: (r.span_start, r.span_end, r.span_tokens, r.n_shingles)
        for r in spans.itertuples()
    }
    # boiler is 9 tokens → 2 shingle windows, merged into one maximal span
    assert got == {0: (4, 12, 9, 2), 1: (1, 9, 9, 2)}


def test_substring_spans_island_separation(spark):
    s1 = "first shared boilerplate alpha bravo charlie delta echo"
    s2 = "second shared boilerplate foxtrot golf hotel india juliet"
    rows = [
        # s1 at tokens 1-8, lone filler token, s2 at tokens 10-17:
        # windows at pos 1 and 10 are 9 > n apart → two islands
        (0, s1 + " filler " + s2),
        (1, "unique head words here " + s1 + " more unique tail " + s2),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = dedup.substring_duplicate_spans(df, "doc_id", "text", n=8)
    d0 = spans.filter("doc_id = 0").orderBy("span_start").toPandas()
    assert [tuple(r) for r in d0[["span_start", "span_end"]].itertuples(index=False)] == [
        (1, 8),
        (10, 17),
    ]


def test_simhash_pairs(spark, docs):
    pairs = dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=3).toPandas()
    got = {(r.a, r.b) for r in pairs.itertuples()}
    assert (0, 1) in got  # identical text → hamming 0
    hm = {(r.a, r.b): r.hamming for r in pairs.itertuples()}
    assert hm[(0, 1)] == 0


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(0)
    base = rng.randn(20, 16).astype(np.float32)
    base[1] = base[0] + 0.01 * rng.randn(16).astype(np.float32)  # near dup of 0
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_brute_force_topk(spark, vectors):
    q = vectors.filter("vec_id = 0").first()["embedding"]
    res = similarity_search.brute_force_topk(
        vectors.filter("vec_id != 0"), q, k=5
    ).toPandas()
    assert res.iloc[0].vec_id == 1  # the planted near-duplicate
    assert res.cosine.is_monotonic_decreasing


def test_lsh_topk_recall(spark, vectors):
    q = vectors.filter("vec_id = 0").first()["embedding"]
    bucketed = similarity_search.add_lsh_buckets(
        vectors.filter("vec_id != 0"), n_planes=4
    )
    res = similarity_search.lsh_topk(bucketed, q, k=5, n_planes=4).toPandas()
    assert res.iloc[0].vec_id == 1  # near dup lands in the probed buckets


def test_lsh_ann_recall_on_clustered_vectors(spark):
    """ANN recall where it matters: clustered embeddings (real-corpus
    shape). 20 clusters × 25 points; a query's true top-10 live in its
    cluster → the sign bucket concentrates them. Uncorrelated random
    vectors are LSH's worst case (recall ≈ scan fraction) — that regime
    is brute_force_topk / all_pairs_cosine territory by design."""
    rng = np.random.RandomState(1)
    centroids = rng.randn(20, 32)
    rows = []
    vid = 0
    for c in range(20):
        for _ in range(25):
            v = centroids[c] + 0.15 * rng.randn(32)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    bucketed = similarity_search.add_lsh_buckets(df, n_planes=6).cache()
    recalls = []
    for qid in [0, 101, 260, 399]:
        q = df.filter(f"vec_id = {qid}").first()["embedding"]
        rest = f"vec_id != {qid}"
        bf = {
            r["vec_id"]
            for r in similarity_search.brute_force_topk(
                df.filter(rest), q, k=10
            ).collect()
        }
        ann = {
            r["vec_id"]
            for r in similarity_search.lsh_topk(
                bucketed.filter(rest), q, k=10, n_planes=6, probe_radius=1
            ).collect()
        }
        recalls.append(len(bf & ann) / 10)
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_all_pairs_cosine(spark, vectors):
    pairs = similarity_search.all_pairs_cosine(vectors, threshold=0.99).toPandas()
    assert {(r.a, r.b) for r in pairs.itertuples()} == {(0, 1)}


def _clustered_vec_df(spark, n_clusters=10, per_cluster=20, dim=16, seed=5):
    rng = np.random.RandomState(seed)
    cents = rng.randn(n_clusters, dim)
    rows, vid = [], 0
    for c in range(n_clusters):
        for _ in range(per_cluster):
            v = cents[c] + 0.1 * rng.randn(dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _numpy_knn(pdf, k, round_digits=6):
    ids = pdf["vec_id"].to_numpy()
    m = np.stack([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
    nrm = np.linalg.norm(m, axis=1)
    nrm[nrm == 0] = 1.0
    sims = np.round((m / nrm[:, None]) @ (m / nrm[:, None]).T, round_digits)
    expect = {}
    for i, a in enumerate(ids):
        mask = ids != a
        cand_ids, cand_s = ids[mask], sims[i][mask]
        order = np.lexsort((cand_ids, -cand_s))[:k]
        expect[int(a)] = [
            (int(cand_ids[j]), float(cand_s[j])) for j in order
        ]
    return expect


def test_knn_join_exact_matches_numpy(spark):
    """knn_join_exact == an independent numpy reference (ids, cosines,
    and rank order) on a clustered corpus."""
    df = _clustered_vec_df(spark)
    pdf = df.toPandas()
    expect = _numpy_knn(pdf, k=4)
    got = similarity_search.knn_join_exact(df, k=4).toPandas()
    assert len(got) == len(pdf) * 4
    for a, grp in got.sort_values(["a", "rank"]).groupby("a"):
        assert [
            (int(r.b), float(r.cosine)) for r in grp.itertuples()
        ] == expect[int(a)], a


def test_knn_join_blocked_equals_broadcast(spark):
    """The distributed block-pair path (forced via broadcast_limit=0-
    ish) returns exactly the broadcast path's result."""
    df = _clustered_vec_df(spark, n_clusters=6, per_cluster=15)
    small = similarity_search.knn_join_exact(df, k=3).toPandas()
    big = similarity_search.knn_join_exact(
        df, k=3, broadcast_limit=10, block_size=16
    ).toPandas()
    key = ["a", "rank"]
    s = small.sort_values(key).reset_index(drop=True)
    b = big.sort_values(key).reset_index(drop=True)
    assert s[["a", "b", "rank"]].equals(b[["a", "b", "rank"]])
    assert np.allclose(s["cosine"], b["cosine"])


def test_knn_join_ivf_recall(spark):
    """IVF kNN join recall ≥ 0.8 vs exact on the clustered corpus, and
    every returned neighbor's cosine is the true cosine."""
    df = _clustered_vec_df(spark, n_clusters=8, per_cluster=25)
    exact = similarity_search.knn_join_exact(df, k=5).toPandas()
    cents = similarity_search.train_ivf_centroids(
        df, n_cells=8, id_col="vec_id", seed=7
    )
    with_cells = similarity_search.add_ivf_cells(df, cents)
    approx = similarity_search.knn_join_ivf(
        with_cells, cents, k=5, nprobe=3
    ).toPandas()
    ex = {(int(r.a), int(r.b)) for r in exact.itertuples()}
    ap = {(int(r.a), int(r.b)) for r in approx.itertuples()}
    assert len(ex & ap) / len(ex) >= 0.8
    # spot-check correctness of returned cosines against exact pairs
    exact_cos = {(int(r.a), int(r.b)): float(r.cosine) for r in exact.itertuples()}
    for r in approx.itertuples():
        kk = (int(r.a), int(r.b))
        if kk in exact_cos:
            assert abs(exact_cos[kk] - float(r.cosine)) < 1e-9


def test_embedding_near_dup_multiprobe(spark, vectors):
    """The banded-LSH near-dup path must find the planted pair (≥1 of
    the independent tables gives the cosine-0.99 pair an identical
    signature)."""
    pairs = dedup.embedding_near_dup_pairs(
        vectors, "vec_id", "embedding", threshold=0.99, n_planes=8
    ).toPandas()
    assert (0, 1) in {(r.a, r.b) for r in pairs.itertuples()}


def test_jaccard_prefix_equals_naive(spark):
    """The prefix-filtered PPJoin path must return exactly the naive
    co-shingle join's pairs on a corpus with hot shingles and varied
    lengths (exactness of the bounded hot-dim global order)."""
    import random

    random.seed(9)
    vocab_words = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(120):
        n_words = random.randint(5, 40)
        words = [random.choice(vocab_words) for _ in range(n_words)]
        rows.append((i, " ".join(words)))
        if i % 7 == 0:  # near dups: append a copy with one edit
            dup = list(words)
            dup[len(dup) // 2] = random.choice(vocab_words)
            rows.append((1000 + i, " ".join(dup)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for threshold in (0.5, 0.8):
        fast = {
            (r["a"], r["b"], round(r["jaccard"], 9))
            for r in dedup.ngram_jaccard_pairs(
                df, "doc_id", "text", n=3, threshold=threshold
            ).collect()
        }
        naive = {
            (r["a"], r["b"], round(r["jaccard"], 9))
            for r in dedup._ngram_jaccard_pairs_naive(
                df, "doc_id", "text", 3, threshold
            ).collect()
        }
        assert fast == naive
        assert fast  # non-trivial: some pairs exist


def test_all_pairs_cosine_blocked_equals_broadcast(spark, vectors):
    """Distributed block-pair GEMM == broadcast GEMM, forced above the
    broadcast comfort zone (broadcast_limit=0, many small blocks)."""
    bc = sorted(
        map(tuple, similarity_search.all_pairs_cosine(vectors, 0.5).collect())
    )
    bl = sorted(
        map(
            tuple,
            similarity_search.all_pairs_cosine(
                vectors, 0.5, broadcast_limit=0, block_size=3
            ).collect(),
        )
    )
    assert bc == bl and bc


def test_cc_distributed_natural_threshold(spark):
    """A graph above the 200k-edge driver threshold takes the
    large-star/small-star path via the NORMAL dispatch and matches
    union-find — including a diameter-heavy giant component."""
    import random

    from hikma_engine_spark.operators.graph import (
        _union_find_local,
        connected_components,
    )

    random.seed(11)
    pairs = [(f"c{i:06d}", f"c{i + 1:06d}") for i in range(60_000)]  # long chain
    pairs += [
        (f"x{random.randint(0, 40_000):06d}", f"x{random.randint(0, 40_000):06d}")
        for _ in range(150_000)
    ]
    pairs = [p for p in pairs if p[0] != p[1]]
    df = spark.createDataFrame(pairs, ["src", "dst"]).repartition(8)
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()  # default threshold
    }
    want = _union_find_local(pairs)
    assert len(got) == len(want)
    assert all(got[n] == want[n] for n in want)


def test_ivf_ann_recall_and_exactness(spark):
    """IVF coarse quantizer: clustered vectors → the query's cluster
    concentrates in one cell, so small nprobe finds the true top-k;
    nprobe = n_cells degrades to exact brute force."""
    rng = np.random.RandomState(4)
    centroids = rng.randn(10, 32)
    vecs, labels = [], []
    for ci, c in enumerate(centroids):
        for j in range(30):
            vecs.append(c + 0.05 * rng.randn(32))
            labels.append(ci)
    rows = [
        (i, [float(x) for x in v]) for i, v in enumerate(vecs)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = similarity_search.train_ivf_centroids(df, n_cells=10, seed=3)
    with_cells = similarity_search.add_ivf_cells(df, cents)

    q = vecs[5]  # a member of cluster 0
    exact = similarity_search.brute_force_topk(
        df.filter("vec_id != 5"), [float(x) for x in q], k=10
    ).toPandas()
    approx = similarity_search.ivf_topk(
        with_cells.filter("vec_id != 5"), cents, [float(x) for x in q],
        k=10, nprobe=2,
    ).toPandas()
    recall = len(set(exact.vec_id) & set(approx.vec_id)) / 10
    assert recall >= 0.9
    # full probe == exact
    full = similarity_search.ivf_topk(
        with_cells.filter("vec_id != 5"), cents, [float(x) for x in q],
        k=10, nprobe=10,
    ).toPandas()
    assert list(full.vec_id) == list(exact.vec_id)
    # determinism: retraining yields identical centroids
    cents2 = similarity_search.train_ivf_centroids(df, n_cells=10, seed=3)
    assert np.allclose(cents, cents2)


def test_transitive_depth_diamond_and_chain(spark):
    """Longest-path semantics: diamond a->b->d, a->c->d plus tail d->e
    gives depth(a)=3 via either branch; sinks are 0."""
    from hikma_engine_spark.operators.graph import transitive_depth

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e")],
        "src string, dst string",
    )
    got = {r["node"]: r["depth"] for r in transitive_depth(edges).collect()}
    assert got == {"a": 3, "b": 2, "c": 2, "d": 1, "e": 0}


def test_transitive_depth_cycle_raises(spark):
    from hikma_engine_spark.operators.graph import ConvergenceError, transitive_depth

    import pytest

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    with pytest.raises(ConvergenceError, match="cycle"):
        transitive_depth(edges, max_iter=8)


def test_transitive_depth_distributed_equals_driver(spark):
    """The distributed relaxation (driver_threshold=0) and the driver
    DFS twin produce identical depths on a random-ish DAG."""
    import numpy as np

    from hikma_engine_spark.operators.graph import transitive_depth

    rng = np.random.RandomState(11)
    # DAG by construction: edges always point from higher id to lower
    edges = sorted(
        {
            (f"n{j:03d}", f"n{i:03d}")
            for _ in range(300)
            for i, j in [sorted(rng.choice(60, 2, replace=False))]
        }
    )
    df = spark.createDataFrame(list(edges), "src string, dst string")
    drv = {
        (r["node"], r["depth"])
        for r in transitive_depth(df).collect()
    }
    dist = {
        (r["node"], r["depth"])
        for r in transitive_depth(df, driver_threshold=0).collect()
    }
    assert drv == dist and len(drv) > 0


def test_pagerank_driver_equals_distributed(spark):
    """Both physical strategies replay the identical recurrence —
    including the self-loop treatment of a dangling node."""
    from hikma_engine_spark.operators.graph import pagerank

    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
        ("d", "a"), ("c", "e"),  # e is dangling (no out-edge)
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    drv = {r["node"]: r["rank"] for r in pagerank(df).collect()}
    dist = {
        r["node"]: r["rank"]
        for r in pagerank(df, driver_threshold=0).collect()
    }
    assert set(drv) == set(dist) == {"a", "b", "c", "d", "e"}
    assert all(abs(drv[k] - dist[k]) < 1e-12 for k in drv)
    # mass is conserved under the self-loop treatment
    assert abs(sum(drv.values()) - 1.0) < 1e-9
    # structure sanity: the hub 'a' outranks the source-only 'd'
    assert drv["a"] > drv["d"]


def test_pagerank_deterministic_and_damping_sensitivity(spark):
    from hikma_engine_spark.operators.graph import pagerank

    edges = [("a", "b"), ("b", "a"), ("b", "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    r1 = sorted(pagerank(df).collect())
    r2 = sorted(pagerank(df).collect())
    assert r1 == r2
    r_low = {r["node"]: r["rank"] for r in pagerank(df, damping=0.5).collect()}
    r_high = {r["node"]: r["rank"] for r in pagerank(df, damping=0.85).collect()}
    assert r_low != r_high


def test_zorder_key_matches_python_morton(spark):
    """The Column-expression Morton key equals an independent Python
    reimplementation on a grid of coordinates (incl. clamping)."""
    from hikma_engine_spark.operators.layout import zorder_key

    rows = [(u, v) for u in [0, 1, 7, 100, 1500, 5000] for v in [0.0, 0.5, 3.7, 900.0, 2000.0]]
    df = spark.createDataFrame(rows, "u bigint, v double")
    got = {
        (r["u"], r["v"]): r["z"]
        for r in df.withColumn(
            "z", zorder_key([(F.col("u"), 0, 2048), (F.col("v"), 0, 1024)], bits=10)
        ).collect()
    }

    def scale(x, lo, hi, bits):
        import math
        m = (1 << bits) - 1
        return min(m, max(0, math.floor(((x - lo) * m) / (hi - lo))))

    for (u, v), z in got.items():
        su, sv = scale(u, 0, 2048, 10), scale(v, 0, 1024, 10)
        expect = 0
        for i in range(10):
            expect |= ((su >> i) & 1) << (2 * i)
            expect |= ((sv >> i) & 1) << (2 * i + 1)
        assert z == expect, (u, v)


def test_zorder_key_guards(spark):
    """Both width guards raise: > 62 key bits, and (with the cap
    lowered) > MAX_INTERLEAVE_TERMS chained codegen terms (round-3
    verdict nit 4)."""
    import pytest as _pytest

    from hikma_engine_spark.operators import layout

    specs6 = [(F.col("u"), 0, 100)] * 6
    with _pytest.raises(ValueError, match="exceeds 62"):
        layout.zorder_key(specs6, bits=11)  # 66 key bits
    orig = layout.MAX_INTERLEAVE_TERMS
    try:
        layout.MAX_INTERLEAVE_TERMS = 16
        with _pytest.raises(ValueError, match="codegen-safe cap"):
            layout.zorder_key(specs6, bits=10)  # 60 terms > 16
    finally:
        layout.MAX_INTERLEAVE_TERMS = orig


def test_zorder_chunks_bound_both_dimensions(spark):
    """File-skipping rationale: split the z-sorted table into chunks
    (files) — each chunk's bounding box must be tight in BOTH
    dimensions, unlike a single-column sort where the second dimension
    spans its full range in every chunk."""
    import numpy as np
    import pandas as pd
    from hikma_engine_spark.operators.layout import zorder_key

    rng = np.random.RandomState(7)
    pdf = pd.DataFrame({
        "u": rng.randint(0, 2048, 4096).astype("int64"),
        "v": rng.uniform(0, 1024, 4096),
    })
    df = spark.createDataFrame(pdf)
    z = (
        df.withColumn("z", zorder_key([(F.col("u"), 0, 2048), (F.col("v"), 0, 1024)], bits=10))
        .orderBy("z")
        .toPandas()
    )
    n_chunks = 16
    def _split(pdf, n):
        # np.array_split on a DataFrame goes through the deprecated
        # DataFrame.swapaxes — split by positional index instead
        return [pdf.iloc[ix] for ix in np.array_split(np.arange(len(pdf)), n)]

    chunks = _split(z, n_chunks)
    z_spread_v = np.mean([c.v.max() - c.v.min() for c in chunks])
    u_sorted = pdf.sort_values("u")
    u_spread_v = np.mean([c.v.max() - c.v.min() for c in _split(u_sorted, n_chunks)])
    # single-column sort leaves v at ~full range per chunk; z-order
    # must cut it at least in half
    assert z_spread_v < 0.5 * u_spread_v
    # and the u dimension stays bounded too (vs full range 2048)
    z_spread_u = np.mean([c.u.max() - c.u.min() for c in chunks])
    assert z_spread_u < 1024


def test_zorder_sort_partitions_own_disjoint_ranges(spark):
    from hikma_engine_spark.operators.layout import zorder_sort

    df = spark.range(0, 2000).select(
        (F.col("id") % 997).alias("u"), (F.col("id") % 701).cast("double").alias("v")
    )
    out = zorder_sort(
        df, [(F.col("u"), 0, 1024), (F.col("v"), 0, 1024)], bits=10, num_partitions=4
    )
    parts = out.select("_zkey").rdd.glom().map(
        lambda rows: (rows[0][0], rows[-1][0], len(rows)) if rows else None
    ).collect()
    ranges = [p for p in parts if p]
    assert len(ranges) > 1
    # within-partition sorted, across-partition disjoint ascending
    for lo, hi, _ in ranges:
        assert lo <= hi
    for (a_lo, a_hi, _), (b_lo, b_hi, _) in zip(ranges, ranges[1:]):
        assert a_hi <= b_lo


def test_triangle_counts_matches_brute_force(spark):
    """triangle_counts == an O(n^3) numpy reference on a random graph
    (incl. a hub node — the degree-orientation's whole point)."""
    import itertools

    rng = np.random.RandomState(9)
    n = 40
    edges = set()
    for _ in range(160):
        a, b = rng.randint(0, n, 2)
        if a != b:
            edges.add((min(int(a), int(b)), max(int(a), int(b))))
    # hub: node 0 connected to everyone
    for b in range(1, n):
        edges.add((0, b))
    adj = {i: set() for i in range(n)}
    for a, b in edges:
        adj[a].add(b); adj[b].add(a)
    expect = {i: 0 for i in range(n)}
    for a, b, c in itertools.combinations(range(n), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            expect[a] += 1; expect[b] += 1; expect[c] += 1
    from hikma_engine_spark.operators.graph import triangle_counts

    df = spark.createDataFrame(sorted(edges), "a long, b long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {k: v for k, v in expect.items() if v > 0}


def test_count_min_sketch_contract(spark):
    from hikma_engine_spark.operators import sketch

    rows = [(f"u{i % 37}",) for i in range(1000)] + [("hot",)] * 500
    df = spark.createDataFrame(rows, ["item"])
    sk = sketch.count_min_sketch_table(df, "item", depth=3, width=16)
    # sketch state is bounded by depth*width whatever the item skew
    assert sk.count() <= 3 * 16
    exact = df.groupBy("item").count().withColumnRenamed("count", "n")
    est = sketch.count_min_estimates(sk, exact, "item", depth=3, width=16).toPandas()
    # CM structural guarantee: estimate never undercounts
    assert (est.cm_est >= est.n).all()
    # the planted heavy hitter is found heavy
    hot = est[est.item == "hot"].iloc[0]
    assert hot.cm_est >= 500


def test_count_min_sketch_mergeable(spark):
    from hikma_engine_spark.operators import sketch

    rows = [(f"u{i % 53}",) for i in range(2000)]
    df = spark.createDataFrame(rows, ["item"]).withColumn(
        "shard", (F.rand(7) * 2).cast("int")
    )
    full = sketch.count_min_sketch_table(df, "item", depth=3, width=32)
    s0 = sketch.count_min_sketch_table(df.filter("shard = 0"), "item", 3, 32)
    s1 = sketch.count_min_sketch_table(df.filter("shard = 1"), "item", 3, 32)
    merged = (
        s0.unionByName(s1).groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))
    )
    # merge = bucket-wise add: merged sketch is EXACTLY the full sketch
    assert full.exceptAll(merged).count() == 0
    assert merged.exceptAll(full).count() == 0


def test_kmv_sketch_finds_true_k_minima(spark):
    """The HLL-threshold two-pass k-min must return EXACTLY the k
    smallest distinct hashes (not approximately): compare against a
    brute-force pandas ranking of the same portable hashes."""
    from hikma_engine_spark.operators import sketch

    rows = [(i % 3, f"item-{i % 700}") for i in range(5000)]
    df = spark.createDataFrame(rows, ["s", "item"])
    k = 64
    got = sketch.kmv_sketch(df, "s", "item", k=k).toPandas()
    brute = (
        df.select("s", sketch.portable_hash48(F.col("item")).alias("h"))
        .distinct()
        .toPandas()
    )
    for s in (0, 1, 2):
        want = sorted(brute[brute.s == s].h)[:k]
        have = list(got[got.s == s].sort_values("rn").h)
        assert have == want


def test_kmv_sketch_small_set_is_exact(spark):
    """A set with fewer than k distinct elements yields a sketch that
    IS the set, and kmv_overlap falls back to exact counts."""
    from hikma_engine_spark.operators import sketch

    a = spark.createDataFrame([(0, f"x{i}") for i in range(30)], ["s", "item"])
    b = spark.createDataFrame(
        [(1, f"x{i}") for i in range(20, 50)], ["s", "item"]
    )
    sk = sketch.kmv_sketch(a.unionByName(b), "s", "item", k=256)
    ska = sk.filter("s = 0").select("h", "rn")
    skb = sk.filter("s = 1").select("h", "rn")
    row = sketch.kmv_overlap(ska, skb, 256).collect()[0]
    # 30 and 30 elements, overlap x20..x29 = 10, union 50 — all exact
    assert row.est_a == 30 and row.est_b == 30
    assert row.est_union == 50
    assert row.n_common == 10
    assert row.est_common == 10 * 50 // 256 or row.est_common == row.n_common * row.est_union // 256


def test_kmv_cardinality_estimate_within_4sigma(spark):
    """(k−1)·M DIV h_k tracks a 10k-distinct-element set within the
    4/√(k−2) KMV bound."""
    from hikma_engine_spark.operators import sketch

    n, k = 10000, 256
    df = spark.createDataFrame([(0, f"e{i}") for i in range(n)], ["s", "item"])
    sk = sketch.kmv_sketch(df, "s", "item", k=k)
    row = sketch.kmv_overlap(
        sk.select("h", "rn"), sk.select("h", "rn"), k
    ).collect()[0]
    assert abs(row.est_a - n) / n <= 4 / (k - 2) ** 0.5
    # self-overlap: identical sketches ⇒ jaccard_ppm = 10^6
    assert row.jaccard_ppm == 1000000 and row.n_common == k


def test_k_core_peels_to_known_core(spark):
    """Triangle with a pendant chain: the 2-core is exactly the
    triangle (the chain peels away in cascading rounds — this pins the
    CASCADE: n4 has degree 2 until n5 is removed)."""
    from hikma_engine_spark.operators.graph import k_core

    edges = [("n1", "n2"), ("n2", "n3"), ("n1", "n3"),
             ("n3", "n4"), ("n4", "n5")]
    df = spark.createDataFrame(edges, ["a", "b"])
    got = {r["u"]: r["core_deg"] for r in k_core(df, 2).collect()}
    assert got == {"n1": 2, "n2": 2, "n3": 2}
    # k above the max degree: empty core, empty (not failing) result
    assert k_core(df, 5).count() == 0


def test_k_core_bipartite_clique(spark):
    """K_{3,3} is its own 3-core; adding a degree-1 satellite does not
    change it."""
    from hikma_engine_spark.operators.graph import k_core

    edges = [(f"l{i}", f"r{j}") for i in range(3) for j in range(3)]
    edges.append(("r0", "sat"))
    df = spark.createDataFrame(edges, ["a", "b"])
    got = {r["u"]: r["core_deg"] for r in k_core(df, 3).collect()}
    assert got == {f"l{i}": 3 for i in range(3)} | {f"r{j}": 3 for j in range(3)}


def test_k_core_convergence_guard(spark):
    """A long path peels one node per round from each end — max_iter
    below the peel depth must raise, never return a non-core."""
    import pytest as _pytest
    from hikma_engine_spark.operators.graph import ConvergenceError, k_core

    path = [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(12)]
    df = spark.createDataFrame(path, ["a", "b"])
    with _pytest.raises(ConvergenceError):
        k_core(df, 2, max_iter=3).collect()
    # with budget it converges to the empty 2-core (a path has none)
    assert k_core(df, 2, max_iter=12).count() == 0


def test_deterministic_walks_replay_exactly(spark):
    """The distributed walker must equal a pure-Python walker using
    the same md5-argmin rule — pins both the hash spec and the
    min_by step semantics."""
    import hashlib

    from hikma_engine_spark.operators.graph import deterministic_walks

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("d", "e")]
    adj = {}
    for x, y in edges:
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)

    def h48(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    want = {}
    for start in adj:
        cur = start
        want[(start, 0)] = cur
        for t in range(1, 4):
            cur = min(adj[cur], key=lambda v: h48(f"{cur}:{t}:{v}"))
            want[(start, t)] = cur

    df = spark.createDataFrame(edges, ["a", "b"])
    got = {
        (r["start"], r["step"]): r["node"]
        for r in deterministic_walks(df, 3).collect()
    }
    assert got == want


def test_deterministic_walks_starts_and_dead_start(spark):
    """starts restricts origins; an origin absent from the graph walks
    to NULL from step 1 (defensive null propagation)."""
    from hikma_engine_spark.operators.graph import deterministic_walks

    df = spark.createDataFrame([("a", "b")], ["a", "b"])
    starts = spark.createDataFrame([("a",), ("ghost",)], ["node"])
    rows = deterministic_walks(df, 2, starts=starts).collect()
    byk = {(r["start"], r["step"]): r["node"] for r in rows}
    assert set(r["start"] for r in rows) == {"a", "ghost"}
    assert byk[("a", 1)] == "b" and byk[("a", 2)] == "a"
    assert byk[("ghost", 0)] == "ghost"
    assert byk[("ghost", 1)] is None and byk[("ghost", 2)] is None


def test_label_propagation_recovers_planted_communities(spark):
    """Two 5-cliques joined by one bridge edge: 4 LPA rounds label
    each clique uniformly with its minimum member; the bridge does not
    merge them (a single cross-neighbor never outvotes 4 in-clique
    neighbors)."""
    from hikma_engine_spark.operators.graph import label_propagation

    cliq = lambda p: [(f"{p}{i}", f"{p}{j}") for i in range(5) for j in range(i + 1, 5)]
    edges = cliq("x") + cliq("y") + [("x0", "y0")]
    df = spark.createDataFrame(edges, ["a", "b"])
    got = {r["node"]: r["label"] for r in label_propagation(df, 4).collect()}
    assert all(got[f"x{i}"] == "x0" for i in range(5))
    assert all(got[f"y{i}"] == "y0" for i in range(5))


def test_label_propagation_deterministic_tiebreak(spark):
    """A node with equally-frequent neighbor labels adopts the SMALLER
    label — pinned on a path a-m-z after one round (m sees {a, z} once
    each)."""
    from hikma_engine_spark.operators.graph import label_propagation

    df = spark.createDataFrame([("a", "m"), ("m", "z")], ["a", "b"])
    got = {r["node"]: r["label"] for r in label_propagation(df, 1).collect()}
    assert got["m"] == "a"      # tie {a, z} -> smaller
    assert got["a"] == "m" and got["z"] == "m"  # single neighbor


def test_quantize_int8_bounds_and_error(spark):
    """Quantized coords stay in [-127, 127], the max coordinate maps
    to ±127 exactly, and dequantized cosine error vs float cosine is
    below 1% on deterministic pseudo-random vectors."""
    import numpy as np

    from hikma_engine_spark.operators import similarity_search as ss

    rng = np.random.RandomState(7)
    vecs = [(i, [float(x) for x in rng.randn(32)]) for i in range(50)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    got = ss.quantize_int8(df).collect()
    for r in got:
        q = r["q"]
        v = np.array(r["embedding"])
        assert max(abs(x) for x in q) == 127
        assert all(-127 <= x <= 127 for x in q)
        # dequantize and compare cosine against an arbitrary probe
        s = 127.0 / np.abs(v).max()
        dq = np.array(q) / s
        cos = lambda a, b: float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        probe = np.array(vecs[0][1])
        assert abs(cos(v, probe) - cos(dq, probe)) < 0.01


def test_int8_topk_zero_vector_safe(spark):
    """An all-zero vector quantizes to scale 0 / cosine 0 instead of
    dividing by zero, and never enters the top-k above real matches."""
    from hikma_engine_spark.operators import similarity_search as ss

    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = ss.int8_topk(df, [1.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in got[:2]] == [1, 2]
    assert got[2]["cosine_q"] == 0.0


# ---------------------------------------------------------------------------
# round 5: directed containment dedup + personalized PageRank
# ---------------------------------------------------------------------------


def _brute_containment(rows, n=3, threshold=0.8):
    """Independent python twin of containment semantics (same shingle
    rules as lsh.word_shingles: lowercase, alnum tokens, distinct
    n-grams, whole-text fallback below n tokens)."""
    import re

    def shingles(text):
        toks = re.sub(r"[^a-z0-9]+", " ", text.lower()).strip().split(" ")
        if len(toks) >= n:
            return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
        return {" ".join(toks)}

    sh = {i: shingles(t) for i, t in rows}
    out = {}
    for a, sa in sh.items():
        for b, sb in sh.items():
            if a == b:
                continue
            c = len(sa & sb) / len(sa)
            if c >= threshold:
                out[(a, b)] = c
    return out


def test_containment_pairs_catches_doc_in_doc(spark):
    """The motivating asymmetry: A fully quoted inside a 4x-longer B
    has C(A→B)=1.0 but Jaccard ~0.25 — the Jaccard pass at 0.8 finds
    NOTHING, containment finds the inclusion (directed, one way)."""
    a_text = "alpha beta gamma delta epsilon zeta"
    b_text = (
        a_text
        + " eta theta iota kappa lam mu nu xi omicron pi rho sigma tau"
    )
    rows = [(0, a_text), (1, b_text), (2, "unrelated words entirely here")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    jac = dedup.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.8)
    assert jac.count() == 0
    got = {
        (r["contained"], r["container"]): r["containment"]
        for r in dedup.containment_pairs(
            df, "doc_id", "text", n=3, threshold=0.8
        ).collect()
    }
    assert set(got) == {(0, 1)}  # directed: A-in-B only, never B-in-A
    assert abs(got[(0, 1)] - 1.0) < 1e-12


def test_containment_pairs_match_bruteforce(spark, docs):
    """Exactness on the shared docs fixture at a mid threshold: the
    prefix-filtered candidate join + counting verify loses nothing vs
    the quadratic python twin."""
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    want = _brute_containment(rows, n=3, threshold=0.5)
    got = {
        (r["contained"], r["container"]): r["containment"]
        for r in dedup.containment_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    assert set(got) == set(want)
    assert all(abs(got[k] - want[k]) < 1e-12 for k in got)


def test_ppr_driver_equals_distributed(spark):
    """Both physical strategies of personalized_pagerank replay the
    identical recurrence, including the dangling self-loop closure;
    mass concentrates at the seed and unreachable nodes score 0."""
    from hikma_engine_spark.operators.graph import personalized_pagerank

    edges = [
        ("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"),
        ("c", "d"),            # d dangling (no out-edge)
        ("x", "y"), ("y", "x"),  # component unreachable from seed 'a'
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    drv = {
        r["node"]: r["score"]
        for r in personalized_pagerank(df, seed="a").collect()
    }
    dist = {
        r["node"]: r["score"]
        for r in personalized_pagerank(df, seed="a", driver_threshold=0).collect()
    }
    assert set(drv) == set(dist) == {"a", "b", "c", "d", "x", "y"}
    assert all(abs(drv[k] - dist[k]) < 1e-12 for k in drv)
    assert drv["a"] == max(drv.values())  # restart mass pins the seed on top
    assert drv["x"] == 0.0 and drv["y"] == 0.0  # never visited
    assert drv["b"] > 0 and drv["c"] > 0 and drv["d"] > 0


def test_ppr_missing_seed_is_all_zero(spark):
    from hikma_engine_spark.operators.graph import personalized_pagerank

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    got = personalized_pagerank(df, seed="nope").collect()
    assert {r["score"] for r in got} == {0.0}


def test_incremental_cc_equals_full(spark):
    """incremental_connected_components over (persisted map, batch) ==
    from-scratch CC over the union — including a batch edge CHAINING
    two old components through a new node, a batch-only component, and
    an old component the batch never touches."""
    from hikma_engine_spark.operators.graph import (
        connected_components,
        incremental_connected_components,
    )

    old_edges = [
        ("a", "b"), ("b", "c"),      # comp A (min a)
        ("m", "n"),                  # comp B (min m)
        ("x", "y"),                  # comp C (min x) — untouched below
    ]
    new_edges = [
        ("c", "q"), ("q", "m"),      # new node q chains comps A and B
        ("u", "v"),                  # brand-new component
    ]
    old_df = spark.createDataFrame(old_edges, "src string, dst string")
    new_df = spark.createDataFrame(new_edges, "src string, dst string")
    cm = connected_components(old_df)
    got = {
        (r["node"], r["component"])
        for r in incremental_connected_components(cm, new_df).collect()
    }
    full = {
        (r["node"], r["component"])
        for r in connected_components(old_df.unionByName(new_df)).collect()
    }
    assert got == full
    assert ("q", "a") in got and ("m", "a") in got  # chained merge
    assert ("u", "u") in got and ("x", "x") in got  # new + untouched


def test_incremental_cc_distributed_path(spark):
    """Same equality with the delta CC forced onto the distributed
    large-star/small-star path."""
    from hikma_engine_spark.operators.graph import (
        connected_components,
        incremental_connected_components,
    )

    old_edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(0, 40, 2)]
    new_edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(1, 39, 2)]
    old_df = spark.createDataFrame(old_edges, "src string, dst string")
    new_df = spark.createDataFrame(new_edges, "src string, dst string")
    cm = connected_components(old_df)
    got = sorted(
        (r["node"], r["component"])
        for r in incremental_connected_components(
            cm, new_df, driver_threshold=0
        ).collect()
    )
    full = sorted(
        (r["node"], r["component"])
        for r in connected_components(old_df.unionByName(new_df)).collect()
    )
    assert got == full and len(got) == 40
    # everything chained into ONE component rooted at the min node
    assert {c for _, c in got} == {"n000"}


