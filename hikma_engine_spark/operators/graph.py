"""Distributed graph algorithms over (src, dst) edge DataFrames.

Every iterative operator here is a loop of synchronous rounds, and all
of them run through ONE superstep driver, ``_supersteps`` (the Pregel
model, Malewicz et al., SIGMOD 2010): an operator supplies its initial
state DataFrame and a ``step(state, round) -> state`` function; the
driver owns the round budget, the lineage cut (an eager
localCheckpoint, every round or every ``cut_every`` rounds), the
early-exit probe, and the ConvergenceError of operators whose contract
is a fixpoint. Two loops stay hand-rolled, each with its reason at the
loop: ``deterministic_walks`` persists instead of cutting, and
``__spark_entry__.g_eigencentrality`` keeps all rounds in one job.

The shared building blocks, one copy each:
- ``_small_edge_list``: the bounded driver-size probe in front of every
  operator with a pure-Python twin (CC, depth, the two walks);
- ``_simple_pairs`` / ``_undirected``: the simple undirected edge set
  (nulls and self-loops dropped, one row per unordered pair, or both
  directions of it);
- ``_walk_with_restart``: the random walk with restart behind
  ``pagerank`` (uniform restart) and ``personalized_pagerank`` (seed
  restart), driver twin plus distributed path;
- ``_min_relaxation``: the frontier-pruned min-relaxation behind
  ``bounded_sssp`` (value dist + w) and ``temporal_reachability``
  (value t, usable when t >= arrival);
- ``_triangles``: the degree-oriented wedge enumeration behind
  ``triangle_counts`` and ``edge_support`` (and, through the latter,
  the entry file's k-truss);
- ``_pr`` / ``_priority_frontier`` / ``_decide``: the hash priority,
  the priority-local-minimum frontier and the merge-back shared by
  ``luby_mis`` and ``jp_coloring``.

Skew note: hot labels (giant components) funnel through groupBy(min)
— Spark's map-side partial aggregation absorbs the hot key (each task
emits one partial min per label), so no explicit salting is needed for
min(); AQE handles residual join skew.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_INF = 2**62  # larger than any relaxed value; coalesce sentinel


class ConvergenceError(RuntimeError):
    """An iterative operator exhausted its round budget without reaching
    the fixpoint its contract promises — raising beats silently
    returning split components or a truncated answer."""


def _supersteps(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
    *,
    until: Callable[[DataFrame, DataFrame], bool] | None = None,
    cut_every: int = 1,
    fixpoint: str | None = None,
) -> DataFrame:
    """The round loop of every iterative operator in this module:
    ``state = step(state, r)`` for r = 1..``rounds``.

    - Lineage cut: the state is materialized with an eager
      localCheckpoint every ``cut_every`` rounds and after the last
      round, so each round plans against a flat relation instead of a
      logical tree that grows with the round count. A cadence above 1
      suits loops whose state is referenced once per round (the
      uncut tree only deepens linearly in between).
    - Early exit: ``until(new, old)`` runs on every cut state (``old``
      is the previous cut state, or the initial one) and ends the loop
      when it returns True.
    - Fixpoint contract: with ``fixpoint`` set (the error message), a
      budget that runs out before ``until`` fired raises
      ConvergenceError; without it the last state is the answer
      (fixed-round operators).
    """
    prev = state
    for r in range(1, rounds + 1):
        state = step(state, r)
        if r % cut_every and r < rounds:
            continue
        state = state.localCheckpoint(eager=True)
        if until is not None and until(state, prev):
            return state
        prev = state
    if fixpoint is not None:
        raise ConvergenceError(fixpoint)
    return state


def _is_empty(df: DataFrame) -> bool:
    return df.limit(1).count() == 0


def _same_rows(new: DataFrame, old: DataFrame) -> bool:
    """Fixpoint probe for distinct-row states: equal sizes (cheap
    counts of materialized states) and no row of ``new`` missing from
    ``old`` — same-size sets need only one direction."""
    return new.count() == old.count() and _is_empty(new.exceptAll(old))


def _frontier_empty(new: DataFrame, _old: DataFrame) -> bool:
    """Early-exit probe for states that mark their frontier (the rows
    added or improved by the last round) with a ``fresh`` column."""
    return _is_empty(new.filter("fresh"))


def _npart(spark, n_rows: int) -> int:
    """Shuffle width sized to the data: tiny states on a cores-wide
    shuffle are pure task overhead; big ones keep full width."""
    return max(1, min(spark.sparkContext.defaultParallelism, n_rows // 20_000 + 1))


def _keyed_checkpoint(df: DataFrame, key: str) -> DataFrame:
    """Materialize an iteration-invariant adjacency pre-partitioned by
    its per-round join key (round-6 opt., the pagerank repartition
    idiom generalized): rounds then re-shuffle only the O(V) state
    dim, never the O(E) adjacency. The repartition deliberately gives
    NO explicit partition count, so AQE sizes it from the actual
    shuffle bytes (coalescePartitions with parallelismFirst): a tiny
    graph collapses to one partition — a fixed cores-wide split
    measured SLOWER than the shuffle it saved on 10k-edge kNN graphs
    (32 task launches per stage per round) — while a large one fans
    out across the cores. One shuffle, one materialization, no count
    probe."""
    return df.repartition(F.col(key)).localCheckpoint(eager=True)


def _small_edge_list(
    edges: DataFrame, src: str, dst: str, threshold: int
) -> list[tuple] | None:
    """The bounded driver-size probe: the (src, dst) pairs of ``edges``
    (nulls and self-loops dropped) when it has at most ``threshold``
    rows, else None — counted through a limit, so a large input is
    never collected. ``threshold <= 0`` forces the distributed path."""
    if threshold <= 0 or edges.limit(threshold + 1).count() > threshold:
        return None
    return [
        (a, b)
        for a, b in edges.select(src, dst).collect()
        if a is not None and b is not None and a != b
    ]


def _simple_pairs(
    edges: DataFrame, a_col: str, b_col: str, assume_simple: bool = False
) -> DataFrame:
    """The simple undirected edge set as one (u, v) row per unordered
    pair: nulls and self-loops dropped, then (unless the caller
    guarantees distinct pairs with no (v, u) twin — ``assume_simple``,
    the round-6 opt-in that skips the wide distinct) canonicalized to
    u < v and deduplicated."""
    e = edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v")).filter(
        "u IS NOT NULL AND v IS NOT NULL AND u <> v"
    )
    if assume_simple:
        return e
    return e.selectExpr("least(u, v) AS u", "greatest(u, v) AS v").distinct()


def _both_ways(pairs: DataFrame) -> DataFrame:
    """Each unordered (u, v) pair as its two directed rows."""
    return pairs.unionByName(pairs.selectExpr("v AS u", "u AS v"))


def _undirected(
    edges: DataFrame, a_col: str, b_col: str, assume_simple: bool = False
) -> DataFrame:
    """The simple undirected edge set as directed (u, v) rows, both
    directions of every pair exactly once (see ``_simple_pairs``)."""
    return _both_ways(_simple_pairs(edges, a_col, b_col, assume_simple))


def _union_find_local(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """Driver-side union-find (path compression); component = min member."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # attach larger-string root under smaller → min-label result
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """Undirected CC. Returns (node, component) with component = min node
    id (lexicographic) in the component. Deterministic.

    Two physical strategies, same result:
    - ≤ ``driver_threshold`` edges: collect + union-find on the driver
      (an iterative join loop on a dozen-row graph is pure scheduler
      overhead). This covers per-corpus entity-alias graphs comfortably.
    - larger: alternating LARGE-STAR / SMALL-STAR rounds (Kiveris et
      al., "Connected Components in MapReduce and Beyond", SoCC'14) —
      convergence is logarithmic in component size, unlike plain
      min-label propagation whose round count is the graph DIAMETER
      (a 10⁶-node chain would silently split under any fixed budget).
      Hot nodes are absorbed by map-side partial min aggregation;
      lineage cut per round.

    Raises ConvergenceError if the fixpoint is not reached in
    ``max_iter`` rounds (per round-1 advice: never return split
    components silently).
    """
    spark = edges.sparkSession
    pairs = _small_edge_list(edges, src, dst, driver_threshold)
    if pairs is not None:
        mapping = _union_find_local(pairs)
        if not mapping:
            return spark.createDataFrame([], "node string, component string")
        return spark.createDataFrame(
            sorted(mapping.items()), ["node", "component"]
        )
    # undirected edge set, one row per unordered pair a < b
    e = _simple_pairs(edges, src, dst).toDF("a", "b").localCheckpoint(eager=True)
    npart = _npart(spark, e.count())

    def star_round(e: DataFrame, _r: int) -> DataFrame:
        # LARGE-STAR: for every node u, attach u's strictly-larger
        # neighbors to m(u) = min(N(u) ∪ {u})
        adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        m_large = adj.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        large = (
            adj.join(m_large, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("child"), F.col("m").alias("parent"))
            .filter(F.col("child") != F.col("parent"))
            .distinct()
        )
        # SMALL-STAR: each child's parents all re-attach to the minimum
        # parent (large-star output is already child > parent directed)
        m_small = large.groupBy("child").agg(F.min("parent").alias("m"))
        joined = large.join(m_small, "child")
        return (
            joined.select(F.col("child").alias("a"), F.col("m").alias("b"))
            .unionByName(
                joined.select(F.col("parent").alias("a"), F.col("m").alias("b"))
            )
            .filter(F.col("a") != F.col("b"))
            # restore the unordered-pair invariant a < b
            .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
            .distinct()
            .repartition(npart, "a")
        )

    # fixpoint: the edge set is stable
    e = _supersteps(
        e,
        star_round,
        max_iter,
        until=_same_rows,
        fixpoint=f"connected_components did not converge in {max_iter} "
        "large-star/small-star rounds",
    )
    # converged e is a star set under the a < b invariant:
    # a = root (component minimum), b = child
    labels = e.select(
        F.col("b").alias("node"), F.col("a").alias("component")
    ).unionByName(
        e.select(F.col("a").alias("node"), F.col("a").alias("component"))
    )
    # a node can transiently be both a root and a child of the
    # true root; groupBy-min resolves to the component minimum
    return labels.groupBy("node").agg(F.min("component").alias("component"))


def incremental_connected_components(
    comp_map: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    **cc_kwargs,
) -> DataFrame:
    """Incremental CC: merge a PERSISTED canonical map with a batch of
    new edges — the daily-ingest path of entity canonicalization. A
    10^12-edge historical graph is canonicalized ONCE; each new batch
    must not re-run CC over it (the same economics as
    ``dedup.dedup_index``: the corpus is never re-read, only its
    index/map rows).

    ``comp_map``: (node, component) with component = MIN member id —
    exactly ``connected_components``' output convention, which is what
    makes contraction LOSSLESS: every old component is internally
    connected, so it collapses to its component id (itself a member
    node, the min); the merged component's new label = min over member
    nodes = min over (old component ids ∪ unmapped new node ids) =
    what CC over the contracted graph returns. No approximation, no
    second pass.

    Cost: two broadcast-able (or map-side, if the map is bucketed by
    node) equi-joins to rewrite the batch onto component ids, then CC
    over the CONTRACTED graph — O(|batch|) edges plus one node per
    touched old component — and one join to re-point old members.
    Returns the updated (node, component) covering old ∪ new nodes.
    Equality with a from-scratch CC over (old ∪ new) edges is pinned
    by ``test_operators.test_incremental_cc_equals_full`` and by the
    ``g_cc_incremental`` oracle entry (the twin closes over ALL
    edges).
    """
    e = new_edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    cm_s = comp_map.select(F.col("node").alias("s"), F.col("component").alias("cs"))
    cm_d = comp_map.select(F.col("node").alias("d"), F.col("component").alias("cd"))
    contracted = (
        e.join(cm_s, "s", "left")
        .join(cm_d, "d", "left")
        .select(
            F.coalesce("cs", F.col("s")).alias("src"),
            F.coalesce("cd", F.col("d")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    delta = connected_components(contracted, **cc_kwargs)
    repoint = delta.select(
        F.col("node").alias("component"), F.col("component").alias("newc")
    )
    old_updated = comp_map.join(repoint, "component", "left").select(
        "node", F.coalesce("newc", F.col("component")).alias("component")
    )
    # contracted-graph nodes are old component ids (present in the map:
    # the min member maps to itself) or brand-new nodes — the anti-join
    # keeps exactly the latter
    new_nodes = delta.join(comp_map.select("node"), "node", "left_anti")
    return old_updated.unionByName(new_nodes)


def _transitive_depth_driver(pairs: list[tuple[str, str]]) -> dict:
    """Driver-side twin: memoized DFS longest path (same spec)."""
    out_edges: dict[str, list[str]] = {}
    nodes: set[str] = set()
    for s, t in pairs:
        out_edges.setdefault(s, []).append(t)
        nodes.add(s)
        nodes.add(t)
    memo: dict[str, int] = {}
    on_stack: set[str] = set()

    def depth(n: str) -> int:
        if n in memo:
            return memo[n]
        if n in on_stack:
            raise ConvergenceError(
                "transitive_depth: cycle detected — longest-path depth "
                "is only defined on a DAG"
            )
        on_stack.add(n)
        d = 0
        for m in out_edges.get(n, ()):  # noqa: B007
            d = max(d, depth(m) + 1)
        on_stack.discard(n)
        memo[n] = d
        return d

    import sys

    old_limit = sys.getrecursionlimit()
    sys.setrecursionlimit(max(old_limit, len(nodes) + 1000))
    try:
        return {n: depth(n) for n in sorted(nodes)}
    finally:
        sys.setrecursionlimit(old_limit)


def transitive_depth(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """Per-node longest-path depth over a DAG of dependency edges
    (``src`` DEPENDS_ON ``dst``): depth(n) = 0 for sinks, else
    1 + max(depth(m) for each edge n → m). Returns (node, depth).

    Reference analog: ``computeTransitiveDepth``
    (src/modules/ast-parser.ts:440-449) — a driver-side DFS there;
    here one equi-join + groupBy-max relaxation round per depth level.
    Round count equals the longest path length — dependency graphs are
    shallow (package/module DAGs rarely exceed depth ~20); a 10⁶-deep
    chain would want pointer doubling instead, which this deliberately
    does not implement.

    Raises ConvergenceError after ``max_iter`` rounds: a cycle makes
    longest-path depth undefined, and raising beats silently reporting
    a truncated depth (same policy as connected_components).

    Two physical strategies, same result (same split as
    connected_components): ≤ ``driver_threshold`` edges → driver-side
    memoized DFS (an iterative job loop over a dozen-row dependency
    graph is pure scheduler overhead — measured 14 s for 10 nodes);
    above it → the distributed relaxation. Equality of the two paths
    is pinned by pytest (test_transitive_depth_distributed_equals_driver).
    """
    spark = edges.sparkSession
    pairs = _small_edge_list(edges, src, dst, driver_threshold)
    if pairs is not None:
        mapping = _transitive_depth_driver(pairs)
        if not mapping:
            return spark.createDataFrame([], "node string, depth int")
        return spark.createDataFrame(
            sorted(mapping.items()), ["node", "depth"]
        ).select("node", F.col("depth").cast("int").alias("depth"))
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .filter(F.col("s").isNotNull() & F.col("t").isNotNull())
        .filter(F.col("s") != F.col("t"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("t").alias("node")))
        .distinct()
    )

    def relax(depth: DataFrame, _r: int) -> DataFrame:
        cand = (
            e.join(depth, e["t"] == depth["node"])
            .select(F.col("s"), (F.col("depth") + 1).alias("d1"))
            .groupBy("s")
            .agg(F.max("d1").alias("cand"))
        )
        return depth.join(cand, depth["node"] == cand["s"], "left").select(
            "node",
            F.greatest(F.col("depth"), F.coalesce(F.col("cand"), F.lit(0))).alias(
                "depth"
            ),
        )

    return _supersteps(
        nodes.withColumn("depth", F.lit(0)),
        relax,
        max_iter,
        until=_same_rows,
        fixpoint=f"transitive_depth did not converge in {max_iter} rounds — "
        "the edge set likely contains a cycle (longest-path depth is "
        "only defined on a DAG)",
    )


def neighbors(
    edges: DataFrame, node_ids: DataFrame | list[str], direction: str = "out",
    edge_type: str | None = None,
) -> DataFrame:
    """1-hop traversal (reference: getFunctionCalls/getFunctionCallers,
    src/utils/in-memory-graph.ts:210-231)."""
    spark = edges.sparkSession
    if isinstance(node_ids, list):
        node_ids = spark.createDataFrame([(n,) for n in node_ids], ["id"])
    e = edges if edge_type is None else edges.filter(F.col("edge_type") == edge_type)
    key, out = ("src", "dst") if direction == "out" else ("dst", "src")
    return (
        e.join(F.broadcast(node_ids), e[key] == node_ids.id)
        .select(F.col(key).alias("from"), F.col(out).alias("to"), "edge_type")
    )


def k_hop(
    edges: DataFrame, start_ids: list[str], k: int = 3, edge_type: str | None = None
) -> DataFrame:
    """BFS to depth k with a visited-set anti-join per round (reference:
    findCallChain BFS with maxDepth, src/utils/in-memory-graph.ts:236-266).
    The state is the visited set; its ``fresh`` rows (reached last
    round) are the frontier, and the loop stops early when a round
    reaches nothing new. Returns (id, depth) of reached nodes."""
    spark = edges.sparkSession
    e = edges if edge_type is None else edges.filter(F.col("edge_type") == edge_type)
    e = e.select("src", "dst")
    start = spark.createDataFrame([(n, 0) for n in start_ids], ["id", "depth"])

    def hop(visited: DataFrame, r: int) -> DataFrame:
        front = visited.filter(F.col("fresh"))
        nxt = (
            e.join(front.hint("broadcast"), e.src == front.id)
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited, "id", "left_anti")
        )
        return visited.withColumn("fresh", F.lit(False)).unionByName(
            nxt.select("id", F.lit(r).alias("depth"), F.lit(True).alias("fresh"))
        )

    return _supersteps(
        start.withColumn("fresh", F.lit(True)), hop, k, until=_frontier_empty
    ).drop("fresh")


def _walk_driver(
    edge_list: list[tuple[str, str]], seed: str | None, alpha: float, n_iter: int
) -> list[tuple[str, float]]:
    """Driver twin of ``_walk_with_restart``: the identical recurrence
    on a collected edge list (numpy float64, contribs accumulated in
    sorted-edge order so the result is deterministic). Bounded by
    ``driver_threshold``."""
    import numpy as np

    edge_list = sorted(edge_list)  # accumulate in a fixed order
    ids = sorted({u for u, _ in edge_list} | {v for _, v in edge_list})
    idx = {u: i for i, u in enumerate(ids)}
    n = len(ids)
    srcs = np.fromiter((idx[u] for u, _ in edge_list), dtype=np.int64)
    dsts = np.fromiter((idx[v] for _, v in edge_list), dtype=np.int64)
    deg = np.bincount(srcs, minlength=n).astype(np.float64)
    dangling = deg == 0
    deg[dangling] = 1.0  # self-loop treatment: dangling keeps own mass
    if seed is None:
        restart = np.full(n, 1.0 / n)
    else:
        restart = np.zeros(n)
        if seed in idx:
            restart[idx[seed]] = 1.0
    ranks = restart.copy()
    for _ in range(n_iter):
        contrib = np.zeros(n)
        np.add.at(contrib, dsts, ranks[srcs] / deg[srcs])
        contrib[dangling] += ranks[dangling]
        ranks = alpha * restart + (1.0 - alpha) * contrib
    return [(u, float(ranks[idx[u]])) for u in ids]


def _walk_with_restart(
    edges: DataFrame,
    src: str,
    dst: str,
    seed: str | None,
    alpha: float,
    n_iter: int,
    driver_threshold: int,
    out_col: str,
) -> DataFrame:
    """Random walk with restart over a directed edge list, fixed
    iterations:
        r_0      = v
        r_{i+1}  = alpha * v + (1 - alpha) * P^T r_i
    with restart vector v = uniform 1/n when ``seed`` is None (PageRank,
    alpha = 1 - damping) or the indicator of ``seed`` (personalized
    PageRank). Dangling nodes get the SELF-LOOP treatment (they keep
    their own walked mass) — it needs no global mass total, so an
    iteration is pure join+aggregate with nothing on the driver.
    Returns (node, ``out_col``) for every node incident to an edge.

    Two physical strategies, same recurrence (pinned equal to 1e-12 by
    ``test_operators.test_pagerank_driver_equals_distributed`` and
    ``test_ppr_driver_equals_distributed``):
    - ≤ ``driver_threshold`` edges: collected numpy power iteration —
      a 10-node co-mention graph costs ~20 scheduler round-trips as a
      join loop and ~1 ms as vector math (the collect is BOUNDED by
      the threshold probe).
    - larger: per iteration one join (edge × rank, co-partitioned on
      src) + one groupBy(dst) — both map-side-combinable; hot
      destinations absorbed by partial aggregation (sum is
      algebraic); lineage cut every 3 rounds (the state is referenced
      once per round, so no double-evaluation in between).
    """
    # materialize the deduped edge list ONCE — every branch below needs
    # it at least twice (threshold probe + collect, or degree + rounds)
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    spark = e.sparkSession
    pairs = _small_edge_list(e, "src", "dst", driver_threshold)
    if pairs is not None:
        if not pairs:
            return spark.createDataFrame([], f"node string, {out_col} double")
        return spark.createDataFrame(
            _walk_driver(pairs, seed, alpha, n_iter), ["node", out_col]
        )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # self-loop treatment materialized: dangling nodes (no out-edge)
    # get an explicit self-edge, after which every node has deg >= 1
    # and the recurrence is closed over the edge list alone; the
    # out-degree rides on each edge row, computed once
    dangling = nodes.join(
        e.select(F.col("src").alias("node")).distinct(), "node", "left_anti"
    )
    e_closed = e.unionByName(
        dangling.select(F.col("node").alias("src"), F.col("node").alias("dst"))
    )
    e_closed = _keyed_checkpoint(
        e_closed.withColumn("deg", F.count("*").over(Window.partitionBy("src"))),
        "src",
    )
    if seed is None:
        restart = F.lit(1.0 / nodes.count())
    else:
        restart = F.when(F.col("node") == seed, F.lit(1.0)).otherwise(F.lit(0.0))

    def walk(ranks: DataFrame, _r: int) -> DataFrame:
        contribs = (
            e_closed.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                (F.col(out_col) / F.col("deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        return nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(alpha) * restart
                + F.lit(1.0 - alpha) * F.coalesce(F.col("contrib"), F.lit(0.0))
            ).alias(out_col),
        )

    return _supersteps(nodes.withColumn(out_col, restart), walk, n_iter, cut_every=3)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 6,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """Fixed-iteration PageRank power method over a directed edge list.
    Returns (node, rank) for every node incident to an edge.

    FIXED iteration count, not an epsilon stop: the result is a pure
    function of (edges, damping, n_iter), so an independent engine
    replaying the same recurrence agrees to rounding — that is what
    makes the operator oracle-checkable, and what makes a resumed run
    reproducible (north-rule determinism, same reason the id minting
    bans UUIDs). The walk with a UNIFORM restart vector and restart
    probability 1 - damping (``_walk_with_restart``: driver twin below
    ``driver_threshold`` edges, distributed rounds above).
    """
    return _walk_with_restart(
        edges, src, dst, None, 1.0 - damping, n_iter, driver_threshold, "rank"
    )


def personalized_pagerank(
    edges: DataFrame,
    seed: str,
    src: str = "src",
    dst: str = "dst",
    alpha: float = 0.15,
    n_iter: int = 6,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """Random-walk-with-restart proximity to ONE seed node — the
    "related entities" query a knowledge graph serves interactively
    (reference analog: the graph-traversal search tier,
    src/api/services/search-service.ts — structural relatedness around
    a focus node; here scored by stationary visit probability instead
    of hop count). Returns (node, score) for every node incident to an
    edge; mass concentrates near the seed, so the top-k IS the
    related-entity answer.

    Recurrence (fixed iterations, oracle-replayable like ``pagerank``):
        r_0      = e_seed
        r_{i+1}  = alpha * e_seed + (1 - alpha) * P^T r_i
    — ``_walk_with_restart`` with the seed's indicator as restart
    vector, so the dangling self-loop closure, the driver twin and the
    distributed plan are pagerank's.
    """
    return _walk_with_restart(
        edges, src, dst, seed, alpha, n_iter, driver_threshold, "score"
    )


def _triangles(pairs: DataFrame) -> DataFrame:
    """Every triangle of the simple undirected graph ``pairs`` (unique
    (u, v) rows with u < v) exactly once, as (u, v, w): apex u, v < w.

    The classic degree-orientation algorithm: every edge is oriented
    from its lower-(degree, id) endpoint to the higher one, which makes
    the wedge join's fan-out per node O(sqrt(m)) on ANY graph (a node's
    out-degree in the oriented graph is at most ~sqrt(2m)) — the hub
    that would explode a naive adjacency self-join (degree² wedges)
    becomes the JOINED side, never the wedge pivot. Each triangle has
    ONE apex under the total order (the oriented graph is acyclic).
    Four shuffles: two degree windows, wedge join, closure semi-join.
    """
    # orient each edge from its lower (deg, id) endpoint to the higher;
    # both endpoint degrees come from windows over the symmetric rows
    # (deg(v) = rows with that v), so no degree table is joined back
    # (SQL-string expressions: one py4j round-trip each instead of one
    # per Column node — DataFrame construction is a per-round cost of
    # the iterating callers, e.g. the entry file's k-truss)
    oriented = (
        _both_ways(pairs)
        .selectExpr(
            "u",
            "v",
            "count(*) OVER (PARTITION BY u) AS du",
            "count(*) OVER (PARTITION BY v) AS dv",
        )
        .filter("du < dv OR (du = dv AND u < v)")
    )
    # wedges: u -> v, u -> w with v < w (apex u has bounded out-degree)
    wedges = oriented.join(oriented.selectExpr("u", "v AS w"), "u").filter("v < w")
    # close the wedge: (v, w) must be an edge. Wedges already carry
    # v < w, and the pairs are u < v, so a plain two-key equi-semi-join
    # closes it (hash join, no expression keys)
    return wedges.join(pairs.toDF("v", "w"), ["v", "w"], "left_semi")


def triangle_counts(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    assume_canonical: bool = False,
) -> DataFrame:
    """Per-node triangle counts over an UNDIRECTED simple graph given as
    unique (a < b) edge pairs — the graph-quality metric behind
    clustering coefficients and community sanity checks. Triangles
    come from ``_triangles`` (degree orientation, each counted once),
    then each credits its three corners.

    ``assume_canonical`` (round-6 opt.): the docstring contract is
    already "unique (a < b) pairs" — a caller that guarantees it (the
    shared edge dims) skips the defensive re-canonicalization distinct.
    """
    tri = _triangles(_simple_pairs(edges, a_col, b_col, assume_canonical))
    # one explode, not a three-way union: the enumeration runs once
    corners = tri.selectExpr("explode(array(u, v, w)) AS node")
    return corners.groupBy("node").agg(F.count("*").alias("n_triangles"))


def k_core(
    edges: DataFrame,
    k: int,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 50,
    assume_canonical: bool = False,
) -> DataFrame:
    """Nodes of the k-core — the maximal induced subgraph in which
    every node has degree ≥ k — with their in-core degree. The
    standard corpus-graph density filter (entity cores, spam rings,
    co-occurrence backbones) next to triangle_counts / clustering.

    Iterative distributed peel: the state is the directed edge set
    with each row's source degree attached; a round keeps the rows
    whose source has degree ≥ k, induces the surviving edge set with
    one semi-join on the other endpoint, and recounts degrees with a
    window over the same node key. A round removes the ENTIRE sub-k
    frontier at once, so the round count is the peeling DEPTH of the
    graph, not its node count — single-digit for social/co-occurrence
    topologies (here: 3 rounds at sf0.1); a pathological path graph
    peels O(n) deep, hence the ``max_iter`` guard raising
    ConvergenceError rather than silently returning a non-core
    (round-1 advice: no silent wrong answers). The fixpoint probe is
    one scan for a sub-k degree in the materialized state.

    Input: unique undirected (a, b) pairs; self-loops dropped.
    ``assume_canonical`` (round-6 opt.): a caller guaranteeing unique
    a < b pairs (which also excludes self-loops) skips the defensive
    normalization distinct. Returns (u, core_deg) for k-core members,
    core_deg ≥ k.
    """
    def with_degree(e: DataFrame) -> DataFrame:
        return e.withColumn("core_deg", F.count("*").over(Window.partitionBy("u")))

    def peel(st: DataFrame, _r: int) -> DataFrame:
        kept = st.filter(F.col("core_deg") >= k)
        alive = kept.select(F.col("u").alias("v"))
        return with_degree(kept.join(alive, "v", "left_semi").select("u", "v"))

    core = _supersteps(
        with_degree(
            _undirected(edges, a_col, b_col, assume_canonical)
        ).localCheckpoint(eager=True),
        peel,
        max_iter,
        until=lambda st, _: _is_empty(st.filter(F.col("core_deg") < k)),
        fixpoint=f"k_core(k={k}) did not converge in {max_iter} rounds",
    )
    return core.select("u", "core_deg").distinct().orderBy("u")


def deterministic_walks(
    edges: DataFrame,
    length: int,
    a_col: str = "a",
    b_col: str = "b",
    starts: DataFrame | None = None,
) -> DataFrame:
    """DeepWalk-style walk corpus (Perozzi et al. 2014) with a
    DETERMINISTIC walker: from every node, ``length`` steps where step
    t moves to the neighbor minimizing the portable 48-bit md5 hash of
    (current, t, neighbor). The hash plays the RNG (uniform over
    neighbors, step-dependent so walks don't cycle), which makes the
    walk corpus reproducible run-to-run, engine-independent (a SQL
    twin replays it exactly via arg_min over the same hash), and free
    of driver-seeded RNG state — the property a resumable distributed
    pipeline needs anyway (re-running a failed partition must emit the
    SAME walks).

    Scale shape: walker state is one (start, cur) row per walk —
    CONSTANT width whatever ``length`` — and each step is one join on
    the current-node key (the irreducible random-walk access pattern;
    at cluster scale the adjacency side is bucketed on u so only the
    walker side shuffles) followed by an algebraic min_by per walk.
    Steps append to the long-form result (start, step, node); a
    dead-end node yields NULL which propagates, ending the walk.

    ``starts`` (single column ``node``) restricts walk origins — e.g.
    one side of a bipartite graph; default every node.

    Returns (start, step, node), step 0..length, ordered by caller.
    """
    # persist: the adjacency is probed once per step and the step-t
    # union branch would otherwise re-execute the whole step-1..t-1
    # lineage (O(L²) recompute measured: sf0.1 11.1 → 4.8 s). In
    # production the adjacency is a bucketed table read, but the
    # walker states must still be persisted (or checkpointed) to keep
    # the emitted-steps union linear in L.
    # persist, NOT localCheckpoint (round-6 measured): persist keeps
    # catalyst stats visible, so the planner broadcasts the adjacency
    # when it fits (one reused broadcast exchange serves every step —
    # measured 3.9s vs 9.8s with a stats-hiding checkpoint at sf0.1)
    # and falls back to a shuffle join at scale. The walker-state
    # persist below stays regardless.
    sym = _undirected(edges, a_col, b_col).persist()
    origins = (
        starts.select(F.col("node").alias("u")) if starts is not None
        else sym.select("u")
    )
    state = origins.distinct().select(
        F.col("u").alias("start"), F.col("u").alias("cur")
    )
    out = state.select("start", F.lit(0).cast("int").alias("step"),
                       F.col("cur").alias("node"))
    # hand-rolled, not _supersteps: the walker state is persisted, not
    # cut — a checkpointed state hides the stats that let the planner
    # broadcast the adjacency (the measurement above)
    for t in range(1, length + 1):
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("cur"), F.lit(str(t)), F.col("v"))),
                1, 12,
            ), 16, 10,
        ).cast("long")
        state = (
            state.join(sym, state["cur"] == sym["u"], "left")
            .groupBy("start")
            .agg(F.min_by("v", h).alias("cur"))
            .persist()
        )
        out = out.unionByName(
            state.select(
                "start", F.lit(t).cast("int").alias("step"),
                F.col("cur").alias("node"),
            )
        )
    return out


def label_propagation(
    edges: DataFrame,
    rounds: int,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) for
    community detection, run for EXACTLY ``rounds`` rounds: every node
    starts labeled with itself; each round every node adopts the most
    frequent label among its neighbors, ties broken by the smaller
    label (the deterministic variant — classic LPA breaks ties
    randomly, which a resumable distributed pipeline cannot afford:
    partition retries must reproduce the same labels).

    Fixed-round semantics are deliberate: synchronous LPA on bipartite
    or near-regular graphs can oscillate forever, so "run to
    convergence" is not well-defined — the operator's contract is the
    label state after R rounds, which IS well-defined, deterministic,
    and exactly replayable by an unrolled SQL twin.

    Scale shape per round: one join of the label table (node → label,
    O(V) rows) against the adjacency on the node key, then two
    algebraic groupBys — count per (node, neighbor label), then the
    winning label per node as a single ``min_by`` over the
    (−count, label) struct (count DESC, label ASC). Both aggregations
    are map-side combinable, so a hot node's neighbor-label counts
    collapse in partials before the shuffle. Lineage cut per round.

    Returns (node, label) after ``rounds`` rounds.
    """
    sym = _undirected(edges, a_col, b_col).persist()

    def lpa_round(labels: DataFrame, _r: int) -> DataFrame:
        neigh = sym.join(
            labels.select(F.col("u").alias("v"), "label"), "v"
        ).select("u", "label")
        counts = neigh.groupBy("u", "label").agg(F.count("*").alias("c"))
        # most-frequent label, ties -> smaller label: min_by over a
        # struct ordered by (-c, label) is a single algebraic agg
        return counts.groupBy("u").agg(
            F.min_by("label", F.struct(-F.col("c"), F.col("label"))).alias(
                "label"
            )
        )

    labels = sym.select("u").distinct().select("u", F.col("u").alias("label"))
    labels = _supersteps(labels, lpa_round, rounds)
    return labels.select(F.col("u").alias("node"), "label")


def _min_relaxation(
    e: DataFrame, start: DataFrame, k: int, cand: F.Column, usable: F.Column
) -> DataFrame:
    """Frontier-pruned min-relaxation for ≤ ``k`` rounds — the one
    Bellman-Ford loop behind bounded_sssp and temporal_reachability.

    ``e`` holds edges (es, et, ...) keyed on es; ``start`` holds
    (node, val). The state is (node, val, fresh): per round the FRESH
    rows (new or improved last round) join their out-edges, keep the
    ``usable`` ones (a predicate over the frontier row and the edge),
    propose ``cand`` (an expression over the same) at et, take the
    min per node and merge it into the state with least(). The left
    side of the join is the frontier only, never the full state: on
    expander-ish graphs the frontier decays after the wave passes a
    region, so late rounds cost |frontier|·avg-degree, not
    |V|·avg-degree. Early exit when a round improves nothing. Returns
    (node, val).
    """

    def relax(st: DataFrame, _r: int) -> DataFrame:
        front = st.filter(F.col("fresh"))
        prop = (
            front.join(e, front["node"] == e["es"])
            .filter(usable)
            .select(F.col("et").alias("node"), cand.alias("nv"))
            .groupBy("node")
            .agg(F.min("nv").alias("nv"))
        )
        return st.join(prop, "node", "full").select(
            "node",
            F.least(
                F.coalesce(F.col("val"), F.lit(_INF)),
                F.coalesce(F.col("nv"), F.lit(_INF)),
            ).alias("val"),
            (
                F.col("nv").isNotNull()
                & (F.col("val").isNull() | (F.col("nv") < F.col("val")))
            ).alias("fresh"),
        )

    st = start.withColumn("fresh", F.lit(True))
    return _supersteps(st, relax, k, until=_frontier_empty).drop("fresh")


def bounded_sssp(
    edges: DataFrame,
    sources: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Multi-source single-source-shortest-paths bounded to ``k``
    relaxation rounds (weighted Bellman-Ford over ≤ k hops) — the
    weighted sibling of transitive_depth's unweighted relaxation and
    the "how far is every node from the seed set" primitive behind
    radius-bounded KG neighborhood pricing. No reference analog
    (the reference's only traversal is unweighted DFS depth,
    src/modules/ast-parser.ts:440-449); target-domain addition.

    Returns (node, dist) for every node reachable from ``sources``
    (a one-column DataFrame named ``node``) within k hops, dist =
    min total weight over all ≤ k-hop paths. Weights must be
    non-negative (asserted on the first pass); ties need no break —
    min is total.

    Scale shape: ``_min_relaxation`` with candidate dist + w on every
    edge — per round ONE frontier × edges equi-join + ONE groupBy-min,
    both on the same node key. k is a hard bound — rounds are O(k)
    scheduler steps. Early-exits when the frontier empties.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    e = (
        edges.select(
            F.col(src).alias("es"),
            F.col(dst).alias("et"),
            F.col(weight).cast("long").alias("ew"),
        )
        .filter(
            F.col("es").isNotNull()
            & F.col("et").isNotNull()
            & (F.col("es") != F.col("et"))
        )
        .groupBy("es", "et")
        .agg(F.min("ew").alias("ew"))
    )
    e = _keyed_checkpoint(e, "es")
    if not _is_empty(e.filter(F.col("ew") < 0)):
        raise ValueError("bounded_sssp requires non-negative weights")
    dist = (
        sources.select(F.col("node"))
        .distinct()
        .withColumn("val", F.lit(0).cast("long"))
    )
    return _min_relaxation(
        e, dist, k, F.col("val") + F.col("ew"), F.lit(True)
    ).withColumnRenamed("val", "dist")


def negative_edge_samples(
    edges: DataFrame,
    n_items: int,
    k: int = 5,
    n_candidates: int = 4,
    seed: str = "neg",
    u_col: str = "u",
    v_col: str = "v",
    valid_items: DataFrame | None = None,
) -> DataFrame:
    """Deterministic NEGATIVE edge sampling for link-prediction /
    KG-embedding training: for every positive edge (u, v) mint
    ``n_candidates`` pseudo-random items h(u,v,j) mod ``n_items``,
    drop collisions with the positive set, and keep the top-``k``
    negatives per u in seeded-hash order. Same-seed re-runs are
    byte-identical (the export family's determinism contract — no
    rand(), so a resumed job never re-draws). No reference analog;
    target-domain addition next to g_link_predict's positive scorer.

    Caller maps items to a dense [0, n_items) id space first (the
    modulus must cover real ids); ``valid_items`` (one column named
    ``v_col``) optionally broadcast-semi-joins candidates to the real
    item dim when the space has holes.

    Scale shape: candidate minting is a narrow generate (explode of a
    j-array literal — rows out = n_candidates × |E|, no shuffle);
    the positive-collision drop is ONE anti-join on (u, item); the
    per-u top-k window is bounded by n_candidates·deg(u) candidate
    rows per u — skew inherits the positive degree distribution, so
    cap the input degree the same way g_link_predict does if u is
    hot. Ranking key is md5 of the FINAL pair (recomputed after
    distinct), so dedup order can't leak.
    """
    if n_items <= 0:
        raise ValueError("n_items must be positive")
    e = edges.select(F.col(u_col).alias("u"), F.col(v_col).alias("v"))
    cand = (
        e.select(
            "u",
            "v",
            F.explode(F.array(*[F.lit(j) for j in range(n_candidates)])).alias("j"),
        )
        .select(
            "u",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.lit(seed),
                            F.col("u").cast("string"),
                            F.col("v").cast("string"),
                            F.col("j").cast("string"),
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("h"),
        )
        .select("u", (F.col("h") % n_items).alias("neg_v"))
        .distinct()
    )
    if valid_items is not None:
        cand = cand.join(
            F.broadcast(valid_items.select(F.col(v_col).alias("neg_v")).distinct()),
            "neg_v",
        )
    clean = cand.join(
        e.select("u", F.col("v").alias("neg_v")), ["u", "neg_v"], "left_anti"
    )
    rank_key = F.md5(
        F.concat_ws(
            ":",
            F.lit(seed),
            F.lit("rank"),
            F.col("u").cast("string"),
            F.col("neg_v").cast("string"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("u").orderBy(rank_key, F.col("neg_v"))
    return (
        clean.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("u").alias(u_col),
            F.col("neg_v").alias(f"neg_{v_col}"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def neighborhood_function(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    lg_config_k: int = 12,
) -> DataFrame:
    """HyperBall (Boldi/Vigna) — per-node ≤ k-hop neighborhood SIZE via
    iterated HLL-sketch unions: b₀(v) = sketch{v};
    b_{t+1}(v) = b_t(v) ∪ ⋃_{(v,w)∈E} b_t(w). Returns
    (node, reach_est) where reach_est = round(estimate(b_k)) INCLUDING
    the node itself. The neighborhood function / effective-diameter
    estimator used on billion-edge graphs, where the exact frontier
    set per node is O(reach) state and dies at scale — the HLL
    register array is O(2^lgK) bytes per node REGARDLESS of reach,
    and union is associative+idempotent so re-delivered edges (task
    retries) cannot inflate it. No reference analog; target-domain
    addition beside the mergeable-sketch family (HLL distinct / GK /
    count-min / KMV).

    Scale shape: per round ONE equi-join keyed on the edge source
    (sketches ride to their in-neighbors) + ONE hll_union_agg groupBy
    + a full-outer merge with the previous ball — all DataSketches
    JVM aggregates, no Python; lineage cut per round; round count is
    the hard bound k (for diameter work k grows to ~log(diameter),
    still scheduler-bounded).

    At small cardinalities (≪ 2^lgK) the DataSketches HLL runs in
    exact sparse mode, so estimates equal exact reach — callers
    asserting error contracts should size test graphs accordingly.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    e = (
        edges.select(F.col(src).alias("es"), F.col(dst).alias("et"))
        .filter(F.col("es").isNotNull() & F.col("et").isNotNull())
        .filter(F.col("es") != F.col("et"))
        .distinct()
    )
    # every round joins e on "et"
    e = _keyed_checkpoint(e, "et")
    nodes = (
        e.select(F.col("es").alias("node"))
        .unionByName(e.select(F.col("et").alias("node")))
        .distinct()
    )

    def expand(ball: DataFrame, _r: int) -> DataFrame:
        recv = (
            e.join(ball, e["et"] == ball["node"])
            .select(F.col("es").alias("node"), "b")
            .groupBy("node")
            .agg(F.hll_union_agg("b").alias("nb"))
        )
        return ball.join(recv, "node", "left").select(
            "node",
            F.when(F.col("nb").isNull(), F.col("b"))
            .otherwise(F.hll_union("b", "nb"))
            .alias("b"),
        )

    ball = nodes.groupBy("node").agg(
        F.hll_sketch_agg(F.col("node").cast("string"), F.lit(lg_config_k)).alias("b")
    )
    ball = _supersteps(ball, expand, k)
    return ball.select(
        "node", F.round(F.hll_sketch_estimate("b")).cast("long").alias("reach_est")
    )


def temporal_reachability(
    edges: DataFrame,
    sources: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    time: str = "t",
) -> DataFrame:
    """Time-RESPECTING reachability (contact-network / provenance
    semantics): a path may only traverse edges whose timestamps are
    non-decreasing along the path, and each hop departs no earlier
    than it arrived. Returns (node, arrival) = the EARLIEST time
    information seeded at ``sources`` (rows (node, t0) — available
    from t0) can reach each node within ≤ k hops. This is a different
    algebra from bounded_sssp's min-weight: the relaxation value is
    the edge's own timestamp, and usability is the predicate
    edge.t ≥ arrival(u) — a static shortest path through a temporal
    graph gives WRONG answers (it happily walks backwards in time).
    No reference analog; target-domain addition (who could have seen
    X / taint propagation over transcripts and event streams).

    Earlier arrival is monotonically at least as good (t ≥ arrival
    is a superset predicate), so ``_min_relaxation`` converges exactly
    like Bellman-Ford: per round ONE frontier × edges equi-join (+ the
    time predicate as a residual filter) and ONE groupBy-min, early
    exit on empty frontier. Edge times are caller-provided integers
    (micros) — no timestamp arithmetic inside the loop.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    e = (
        edges.select(
            F.col(src).alias("es"),
            F.col(dst).alias("et"),
            F.col(time).cast("long").alias("tt"),
        )
        .filter(
            F.col("es").isNotNull()
            & F.col("et").isNotNull()
            & F.col("tt").isNotNull()
            & (F.col("es") != F.col("et"))
        )
        .distinct()
    )
    # every relaxation round joins e on "es"
    e = _keyed_checkpoint(e, "es")
    arr = (
        sources.select("node", F.col("t0").cast("long").alias("val"))
        .groupBy("node")
        .agg(F.min("val").alias("val"))
    )
    return _min_relaxation(
        e, arr, k, F.col("tt"), F.col("tt") >= F.col("val")
    ).withColumnRenamed("val", "arrival")


def functional_scc(
    ptr: DataFrame, node: str = "node", succ: str = "succ"
) -> DataFrame:
    """Strongly connected components of an out-degree-1 (functional)
    pointer graph via POINTER DOUBLING — the directed sibling of
    connected_components for the best-match-pointer graphs dedup
    canonicalization produces (each doc points at its most-similar
    doc; the SCCs, i.e. the cycles, are the mutual-best duplicate
    clusters; tail nodes are singleton SCCs that merely *feed into*
    a cluster). Reference analog: the alias-canonicalization intent of
    hikma-engine's entity merging (src/utils/in-memory-graph.ts
    connected traversals), directed rather than undirected.

    Algorithm (classic parallel pointer jumping):
      state(u) = (t = succ^(2^k)(u), m = min id in succ^1..2^k(u));
      one self-equi-join per round composes the state with itself, so
      after L = ceil(log2(2n)) rounds t(u) = succ^(2^L)(u) with
      2^L >= n, which is ALWAYS on u's terminal cycle. Three facts
      close the computation with no further iteration:
        * image(t) = exactly the set of cycle nodes (t always lands on
          a cycle, and t restricted to a cycle is a rotation, hence
          surjective onto it) -> on_cycle(u) = u IN distinct(t);
        * for a node ON its cycle the whole 2^L-step path stays on the
          cycle, so m(u) = min id of the cycle -> scc_id = least(u, m);
        * tail nodes are singleton SCCs -> scc_id = u.

    Scale: L grows logarithmically (n = 10^12 -> 41 rounds), each
    round ONE equi-join + projection shuffled on the join key — the
    textbook O(log n)-depth list-ranking trade. The pointer domain
    must be closed (succ(u) always has a pointer row), which holds by
    construction for best-match pointers (sharing a shingle is
    symmetric).

    Returns (node, scc_id, on_cycle), one row per pointer-table node.
    """
    st = (
        ptr.select(
            F.col(node).alias("node"),
            F.col(succ).alias("t"),
            F.col(succ).alias("m"),
        )
        # self-pointers are legitimate 1-cycles and need no special
        # case: (u,u,u) is a fixpoint of the doubling join, lands in
        # image(t), and gets scc_id = u with on_cycle = true
        .localCheckpoint(eager=True)
    )
    n = st.count()
    if n == 0:
        # schema-preserving empty result (node dtype follows the input)
        return ptr.select(
            F.col(node).alias("node"),
            F.col(node).alias("scc_id"),
            F.lit(True).alias("on_cycle"),
        ).filter(F.lit(False))
    # size the per-round shuffle to the STATE (n rows, fixed across
    # rounds): a 5k-row state on a 32-way shuffle is pure task
    # overhead × log2(2n) rounds (measured 8.0 → 2.6 s on the sf0.1
    # pointer graph)
    npart = _npart(ptr.sparkSession, n)

    def double(st: DataFrame, _r: int) -> DataFrame:
        other = st.select(
            F.col("node").alias("t"),
            F.col("t").alias("t2"),
            F.col("m").alias("m2"),
        )
        return (
            st.join(other, "t")
            .select("node", F.col("t2").alias("t"), F.least("m", "m2").alias("m"))
            .repartition(npart, "t")
        )

    # cut lineage every 3rd round: an eager checkpoint per round pays a
    # full job per doubling, while the un-cut plan only doubles in
    # depth — 3 self-joins of depth ≤ 8 stay well inside
    # codegen/analysis budgets (measured 3.4 → 1.9 s for the 14-round
    # sf0.1 loop)
    st = _supersteps(
        st.repartition(npart, "t"),
        double,
        max(1, math.ceil(math.log2(2 * n))),
        cut_every=3,
    )
    cycle_nodes = st.select(F.col("t").alias("node")).distinct()
    on_cycle = st.join(cycle_nodes, "node", "left_semi").select(
        "node", F.least("node", "m").alias("scc_id"), F.lit(True).alias("on_cycle")
    )
    tails = st.join(cycle_nodes, "node", "left_anti").select(
        "node", F.col("node").alias("scc_id"), F.lit(False).alias("on_cycle")
    )
    return on_cycle.unionByName(tails)


def edge_support(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    assume_canonical: bool = False,
) -> DataFrame:
    """Per-EDGE triangle support over an undirected simple graph given
    as unique (a < b) pairs — support(e) = number of triangles through
    e, the statistic under k-truss decomposition and Granovetter
    weak-tie analysis: support-0 edges close no triangle, i.e. they
    are the bridge candidates BETWEEN communities (and the first peel
    of any truss).

    Same enumeration as triangle_counts (``_triangles``: each triangle
    once at its unique wedge apex, O(sqrt(m)) wedge fan-out on any
    graph); the difference is the credit step — each triangle credits
    its three EDGES (canonicalized a < b), counted in one aggregation
    together with the full edge set, which fills support 0 for the
    triangle-free edges a corner-credit pass would silently drop.
    ``assume_canonical``: same contract note as triangle_counts.
    """
    pairs = _simple_pairs(edges, a_col, b_col, assume_canonical)
    tri = _triangles(pairs)
    # one explode, not a three-way union: the enumeration runs once
    credits = tri.selectExpr(
        "inline(array("
        "named_struct('u', least(u, v), 'v', greatest(u, v), 'c', 1),"
        "named_struct('u', least(u, w), 'v', greatest(u, w), 'c', 1),"
        "named_struct('u', v, 'v', w, 'c', 1)))"
    )
    # one aggregation over every edge (weight 0) and every credit
    # (weight 1) gives each edge its support, 0 for triangle-free ones
    return (
        pairs.withColumn("c", F.lit(0))
        .unionByName(credits)
        .groupBy("u", "v")
        .agg(F.sum("c").cast("long").alias("support"))
        .selectExpr(f"u AS `{a_col}`", f"v AS `{b_col}`", "support", "support = 0 AS weak_tie")
    )


def k_betweenness(
    edges: DataFrame,
    sources: DataFrame,
    k: int = 4,
    a_col: str = "a",
    b_col: str = "b",
    assume_simple: bool = False,
) -> DataFrame:
    """Source-sampled k-bounded Brandes betweenness centrality
    (Brandes 2001 "A faster algorithm for betweenness centrality";
    source sampling per Brandes & Pich 2007) — the broker-detection
    centrality the graph family was missing: PageRank scores
    ENDORSEMENT mass, k-core scores EMBEDDEDNESS, betweenness scores
    the nodes shortest paths must PASS THROUGH. Exact betweenness is
    O(nm) — never scale-honest — so this is the published estimator:
    Brandes' dependency accumulation from a deterministic sample of
    source nodes, with BFS radius bounded to ``k`` (k-betweenness:
    only shortest paths of length ≤ k are counted; at social-graph
    diameters ~ 4-5 the truncation is mild and the round count is a
    hard scheduler bound, same doctrine as bounded_sssp).

    Semantics returned: bc_micro(v) = Σ_{s ∈ sources} δ_s(v) · 10⁶
    over INTERIOR nodes v ≠ s, where δ follows Brandes' recurrence
    δ(v) = Σ_{w : d(w)=d(v)+1, v~w} σ(v)/σ(w) · (1 + δ(w)). The
    per-edge term is carried as the exact BIGINT
    σ(v)·(10⁶ + δ_micro(w)) DIV σ(w) — floor-bias per TERM, then an
    order-insensitive integer SUM, so the result is bit-stable under
    any partitioning and replayable by an unrolled SQL twin (the
    repo's micro-integer doctrine; at ~10⁹-node graphs the products
    need DECIMAL(38), a widening Spark does natively). Nodes at the
    deepest level have δ = 0 by the k-truncation.

    Scale shape: the forward pass is bounded_sssp's frontier
    discipline vectorized over sources — state is (source, node,
    sigma, level, fresh); each of the ≤ k rounds is ONE
    frontier×edges equi-join + ONE anti-join + ONE algebraic
    groupBy-sum. The backward pass re-joins each level to its
    successor level only, ≤ k-1 more rounds. Hot hub nodes land in
    groupBy SUMs (map-side combinable); the per-source fan-out is
    |sources|, a constant the caller samples.

    ``assume_simple`` (round-6 opt.): a caller that already guarantees
    a DISTINCT simple edge list with no symmetric (v,u) duplicates
    (e.g. a deduped bipartite dim whose endpoint namespaces are
    disjoint) skips the normalization distinct."""
    if k < 1:
        raise ValueError("k must be >= 1")
    # every forward AND backward round joins und on "u"
    und = _keyed_checkpoint(_undirected(edges, a_col, b_col, assume_simple), "u")

    def expand(st: DataFrame, r: int) -> DataFrame:
        front = st.filter(F.col("fresh"))
        nxt = (
            front.join(und, front["node"] == und["u"])
            .select("s", F.col("v").alias("node"), "sigma")
            .join(st, ["s", "node"], "left_anti")
            .groupBy("s", "node")
            .agg(F.sum("sigma").alias("sigma"))
        )
        return st.withColumn("fresh", F.lit(False)).unionByName(
            nxt.select("s", "node", "sigma", F.lit(r).alias("d"), F.lit(True).alias("fresh"))
        )

    l0 = (
        sources.select(F.col("node").alias("s"))
        .distinct()
        .select(
            "s",
            F.col("s").alias("node"),
            F.lit(1).cast("long").alias("sigma"),
            F.lit(0).alias("d"),
            F.lit(True).alias("fresh"),
        )
    )
    levels = _supersteps(l0, expand, k, until=_frontier_empty).drop("fresh")
    depth = levels.agg(F.max("d")).first()[0] or 0
    if depth < 2:
        # no interior nodes possible within the radius
        return und.select(
            F.col("u").alias("node"), F.lit(0).cast("long").alias("bc_micro")
        ).limit(0)

    def accumulate(acc: DataFrame, r: int) -> DataFrame:
        # level d joins its successor level d + 1 ONCE, on the shared
        # (s, w) grain that carries both sigma_w and delta_micro
        d = depth - r
        cur = levels.filter(F.col("d") == d)
        dn = acc.filter(F.col("d") == d + 1).select(
            "s",
            F.col("node").alias("w"),
            F.col("sigma").alias("sigma_w"),
            "delta_micro",
        )
        contrib = (
            cur.join(und, cur["node"] == und["u"])
            .select("s", "node", "sigma", F.col("v").alias("w"))
            .join(dn, ["s", "w"])
            .select(
                "s",
                "node",
                F.expr("sigma * (1000000 + delta_micro) DIV sigma_w").alias("t"),
            )
            .groupBy("s", "node")
            .agg(F.sum("t").alias("delta_micro"))
        )
        return acc.unionByName(
            cur.join(contrib, ["s", "node"], "left").select(
                "s",
                "node",
                "sigma",
                F.coalesce("delta_micro", F.lit(0)).cast("long").alias("delta_micro"),
                "d",
            )
        )

    deepest = levels.filter(F.col("d") == depth).select(
        "s", "node", "sigma", F.lit(0).cast("long").alias("delta_micro"), "d"
    )
    acc = _supersteps(deepest, accumulate, depth - 1)
    return (
        acc.filter(F.col("d") < depth)
        .groupBy("node")
        .agg(F.sum("delta_micro").cast("long").alias("bc_micro"))
    )


def _pr(c: str) -> F.Column:
    """The portable 48-bit md5 priority of a node id — the random
    priority of luby_mis and jp_coloring, replayable by a SQL twin."""
    return (
        F.conv(F.substring(F.md5(F.col(c).cast("string")), 1, 12), 16, 10)
        .cast("long")
    )


def _priority_state(und: DataFrame, open_col: str, open_type: str) -> DataFrame:
    """The (node, h, ``open_col``, round) state of luby_mis and
    jp_coloring: every node of ``und`` with its priority, undecided
    (``open_col`` and round NULL)."""
    return und.select(F.col("u").alias("node")).distinct().select(
        "node",
        _pr("node").alias("h"),
        F.lit(None).cast(open_type).alias(open_col),
        F.lit(None).cast("long").alias("round"),
    )


def _priority_frontier(
    st: DataFrame, und: DataFrame, open_col: str
) -> tuple[DataFrame, DataFrame]:
    """The priority-local-minimum frontier among the open nodes of
    ``st`` (``open_col`` NULL): those whose (h, node) is below every
    open neighbour's — an independent set, so decisions made for it
    within one round never conflict. ONE edge pass against the open
    priorities + ONE algebraic min(struct(h, node)) groupBy; hot hubs
    sit in the map-side-combinable min(). Returns (frontier (node),
    live edges (u, v, vh) whose v is open)."""
    unc = st.filter(F.col(open_col).isNull())
    live = und.join(
        unc.select(F.col("node").alias("v"), F.col("h").alias("vh")), "v"
    )
    nbr_min = live.groupBy(F.col("u").alias("node")).agg(
        F.min(F.struct(F.col("vh"), F.col("v"))).alias("nm")
    )
    front = (
        unc.join(nbr_min, "node", "left")
        .filter(
            F.col("nm").isNull()
            | (F.col("h") < F.col("nm.vh"))
            | ((F.col("h") == F.col("nm.vh")) & (F.col("node") < F.col("nm.v")))
        )
        .select("node")
    )
    return front, live


def _decide(st: DataFrame, batch: DataFrame, open_col: str, r: int) -> DataFrame:
    """Merge a round's decisions (node, new) into the priority state:
    an open node takes ``new`` and records round ``r``; decided nodes
    keep theirs."""
    return st.join(batch, "node", "left").select(
        "node",
        "h",
        F.coalesce(F.col(open_col), F.col("new")).alias(open_col),
        F.coalesce(
            F.col("round"),
            F.when(F.col("new").isNotNull(), F.lit(r).cast("long")),
        ).alias("round"),
    )


def luby_mis(
    edges: DataFrame,
    rounds: int = 6,
    a_col: str = "a",
    b_col: str = "b",
    assume_simple: bool = False,
) -> DataFrame:
    """Deterministic Luby-style MAXIMAL INDEPENDENT SET (Luby 1986,
    "A simple parallel algorithm for the maximal independent set
    problem") — the classic distributed-coordination primitive: pick a
    maximal set of nodes no two of which are adjacent, in O(log n)
    expected synchronous rounds. In a data pipeline this is DIVERSITY
    SELECTION (an MIS over a kNN graph keeps a maximal subset of
    mutually-dissimilar examples — data-pruning's complement to
    dedup's keep-one-per-component) and CONFLICT-FREE SCHEDULING (an
    MIS over a merge-conflict graph is a maximal batch of ER merges
    that can commit in parallel).

    Luby's random priorities are replaced by the repo's portable
    48-bit-md5 hash of the node id, with the node id itself as the
    tie-break — so every round's decision is a pure function of the
    graph, rounds replay identically under partition retry, and an
    unrolled SQL twin reproduces the set bit-for-bit. Fixed-round
    semantics (the label_propagation precedent): after ``rounds``
    synchronous rounds any still-undecided nodes are returned as
    status='undecided' — the caller asserts n_undecided == 0 as its
    convergence contract rather than trusting an unbounded loop.

    Per round: the priority-local-minimum frontier of the undecided
    nodes (``_priority_frontier``) enters the MIS; their undecided
    neighbors leave as excluded. The loop stops early once every node
    is decided. ``assume_simple``: same contract as k_betweenness.

    Returns (node, status ∈ {mis, excluded, undecided}, round —
    the deciding round, or ``rounds`` for undecided)."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    # per-round joins key und on "v" (open priorities)
    und = _keyed_checkpoint(_undirected(edges, a_col, b_col, assume_simple), "v")

    def luby_round(st: DataFrame, r: int) -> DataFrame:
        mis, live = _priority_frontier(st, und, "status")
        # an MIS node's open neighbours are never MIS themselves (two
        # adjacent open nodes cannot both be priority minima)
        excl = (
            live.join(mis.select(F.col("node").alias("u")), "u", "left_semi")
            .select(F.col("v").alias("node"))
            .distinct()
        )
        batch = mis.withColumn("new", F.lit("mis")).unionByName(
            excl.withColumn("new", F.lit("excluded"))
        )
        return _decide(st, batch, "status", r)

    st = _supersteps(
        _priority_state(und, "status", "string"),
        luby_round,
        rounds,
        until=lambda st, _: _is_empty(st.filter(F.col("status").isNull())),
    )
    return st.select(
        "node",
        F.coalesce(F.col("status"), F.lit("undecided")).alias("status"),
        F.coalesce(F.col("round"), F.lit(rounds)).cast("long").alias("round"),
    )


def wl_refinement(
    edges: DataFrame,
    rounds: int = 3,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Weisfeiler-Leman COLOR REFINEMENT (1-WL; Weisfeiler & Leman
    1968, the canonical-form/graph-isomorphism primitive and the
    expressiveness bound of message-passing GNNs): iteratively refine a
    per-node class label to a hash of (own label, multiset of neighbor
    labels) until classes stabilize. Two nodes share a round-r class
    iff their r-hop neighborhood trees are isomorphic — in a knowledge
    graph this is ROLE DISCOVERY (entities used the same way land in
    the same class regardless of identity), the structural prior behind
    alias suggestion and schema induction.

    Distributed shape — the textbook trap is the multiset itself:
    collect_list + sort of neighbor labels puts a degree-sized array on
    every hot node (a 10⁸-degree hub materializes a 10⁸-element sorted
    list in one task). Instead the multiset signature is ALGEBRAIC:
    dense integer codes for round-r labels, and the neighbor multiset
    fingerprinted by (count, Σc, Σc² mod p, Σ(c²·c) mod p) with
    p = 2³¹−1 — commutative, associative, map-side combinable, so a hub
    costs a partial aggregate, never a sorted array. (Power sums up to
    degree determine the multiset exactly; three plus count is the
    practical fingerprint — a collision needs two distinct ≤|V|-value
    multisets agreeing on all four BIGINTs mod p simultaneously.)
    Label→dense-code assignment each round is ``ranking.global_rank``
    over the DISTINCT signature dim (range-partitioned sort, bounded
    single-task state) — never an unpartitioned dense_rank window.
    All arithmetic is overflow-safe BIGINT at 10⁹ codes: each mod term
    < 2³¹ and Σ over a 10⁹-degree hub < 2³¹·10⁹ < 2⁶³.

    Fixed-round semantics (luby_mis/label_propagation precedent):
    ``rounds`` synchronous refinements, lineage cut per round; classes
    only split (never merge), so per-round class counts are monotone —
    the caller's convergence readout. Returns
    (node, degree, c0, c1, …, c{rounds}) with c0 = degree class.

    No reference analog (the reference's SQLite graph is queried, not
    canonicalized); cite: graph family operators/graph.py, code
    assignment operators/ranking.py.
    """
    from .ranking import global_rank

    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    p = 2147483647
    nbr = (
        _undirected(edges, a_col, b_col)
        .select(F.col("u").alias("node"), F.col("v").alias("nb"))
        .localCheckpoint(eager=True)
    )
    deg = nbr.groupBy("node").agg(F.count("*").cast("long").alias("degree"))
    deg_dim = global_rank(deg.select("degree").distinct(), ["degree"], out_col="code")
    keys = ["own", "d", "s1", "s2", "s3"]

    def refine(out: DataFrame, r: int) -> DataFrame:
        labels = out.select("node", F.col(f"c{r - 1}").alias("code"))
        sig = (
            nbr.join(
                labels.select(F.col("node").alias("nb"), F.col("code").alias("nc")),
                "nb",
            )
            .groupBy("node")
            .agg(
                F.count("*").cast("long").alias("d"),
                F.sum("nc").cast("long").alias("s1"),
                F.expr(f"sum(nc * nc % {p}) % {p}").cast("long").alias("s2"),
                F.expr(f"sum((nc * nc % {p}) * nc % {p}) % {p}")
                .cast("long")
                .alias("s3"),
            )
        )
        tup = labels.join(sig, "node").select(
            "node", F.col("code").alias("own"), "d", "s1", "s2", "s3"
        )
        dim = global_rank(tup.select(*keys).distinct(), keys, out_col="code")
        return out.join(
            tup.join(dim, keys).select("node", F.col("code").alias(f"c{r}")),
            "node",
        )

    out = deg.join(deg_dim, "degree").select(
        "node", "degree", F.col("code").alias("c0")
    )
    return _supersteps(out, refine, rounds)


def jp_coloring(
    edges: DataFrame,
    rounds: int = 24,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Deterministic Jones-Plassmann GREEDY GRAPH COLORING (Jones &
    Plassmann 1993) — the full-partition complement of luby_mis: where
    an MIS is ONE maximal conflict-free batch, a coloring schedules the
    ENTIRE graph into conflict-free batches (color classes). In an ER
    pipeline a coloring of the merge-conflict graph is the complete
    parallel-commit schedule; greedy mex assignment guarantees
    n_colors ≤ Δ+1.

    Same determinism contract as luby_mis: priorities are the portable
    48-bit-md5 hash of the node id with the node id as tie-break, so
    rounds replay identically under retry and an unrolled SQL twin
    reproduces every color bit-for-bit. Fixed-round semantics (the
    luby_mis precedent): nodes still uncolored after ``rounds`` return
    status='uncolored' and the caller asserts none exist; once every
    node is colored the remaining budget rounds would be exact no-ops
    (empty frontier), so the loop stops early with identical output.

    Per round, ONE state DataFrame (node, h, color, round) is rebuilt
    and cut (the state is referenced three times per round —
    frontier, used-colors, merge-back — so an unmaterialized round
    TRIPLES the plan subtree; synchronous JP rounds are inherently
    sequential, ~14-16 on a kNN-5 graph with 48-bit hash priorities,
    and one job barrier per round is the honest price of that
    dependency chain): the priority-local-minima frontier among
    uncolored nodes (``_priority_frontier``) takes the MINIMUM
    EXCLUDANT of its already-colored neighbors' colors, computed
    relationally — never a per-node Python loop. Hot hubs sit in
    map-side-combinable aggregates.

    Returns (node, color, round, status ∈ {colored, uncolored});
    color/round are NULL for uncolored leftovers."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    # per-round joins key und on "v" (uncolored priorities, colored
    # neighbor colors); the "u"-keyed accesses broadcast
    und = _keyed_checkpoint(_undirected(edges, a_col, b_col), "v")

    def jp_round(st: DataFrame, r: int) -> DataFrame:
        front, _ = _priority_frontier(st, und, "color")
        # mex via array algebra (round-6 optimization): one collect_set
        # aggregate of the distinct used colors, then
        # array_min(array_except(sequence(0, n_used), used)) — n_used+1
        # candidates vs n_used used colors, so a mex always exists. The
        # per-node array is bounded by the colored degree ≤ Δ.
        used_sets = (
            und.join(front.select(F.col("node").alias("u")), "u", "left_semi")
            .join(
                st.filter(F.col("color").isNotNull()).select(
                    F.col("node").alias("v"), "color"
                ),
                "v",
            )
            .groupBy(F.col("u").alias("node"))
            .agg(F.collect_set("color").alias("used"))
        )
        assign = front.join(used_sets, "node", "left").select(
            "node",
            F.expr(
                "coalesce(array_min(array_except("
                " sequence(0L, CAST(coalesce(size(used), 0) AS BIGINT)),"
                " coalesce(used, CAST(array() AS ARRAY<BIGINT>)))), 0L)"
            ).cast("long").alias("new"),
        )
        return _decide(st, assign, "color", r)

    st = _supersteps(
        _priority_state(und, "color", "long"),
        jp_round,
        rounds,
        until=lambda st, _: _is_empty(st.filter(F.col("color").isNull())),
    )
    return st.select(
        "node",
        "color",
        "round",
        F.when(F.col("color").isNotNull(), F.lit("colored"))
        .otherwise(F.lit("uncolored"))
        .alias("status"),
    )
