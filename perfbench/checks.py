"""Correctness checks, run outside the timed region. Each returns a list
of problems; an empty list means the output is correct."""

from __future__ import annotations

import importlib.util
import os
import random
from collections import deque

import numpy as np
import pandas as pd

from hikma_engine_spark.stages import materialize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PER_CONV_EDGE_TYPES = ("IN_CONV", "IN_TURN", "REFERS_TO", "MENTIONS", "INVOKES")


def _repo_module(rel_path: str, name: str):
    """The project's own reference code (the extraction oracle and the
    entry-verification hash) lives outside the package; load it by path."""
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, rel_path))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def referential(nodes, edges) -> list[str]:
    n = materialize.referential_violations(nodes, edges).count()
    return [f"{n} edges with a missing endpoint"] if n else []


def triples_match_oracle(corpus: pd.DataFrame, edges_pdf: pd.DataFrame,
                         seed: int, n_sample: int = 40) -> list[str]:
    """Per-conversation triples of a seeded sample of conversations equal
    the independent pure-Python oracle's (tests/oracle_kg.py)."""
    oracle = _repo_module("tests/oracle_kg.py", "oracle_kg")
    convs = sorted(corpus["conv_id"].unique())
    sample = set(random.Random(seed).sample(convs, min(n_sample, len(convs))))
    golden = {
        t for t in oracle.golden_triples(corpus[corpus["conv_id"].isin(sample)])
        if t[1] in PER_CONV_EDGE_TYPES
    }
    e = edges_pdf[edges_pdf["conv_id"].isin(sample)
                  & edges_pdf["edge_type"].isin(PER_CONV_EDGE_TYPES)]
    got = set(zip(e["src"], e["edge_type"], e["dst"]))
    if got == golden:
        return []
    return [f"triples differ from oracle on {len(sample)} sampled conversations: "
            f"{len(got - golden)} extra, {len(golden - got)} missing, "
            f"e.g. {sorted(got ^ golden)[:2]}"]


def digest(df) -> tuple:
    """Order-insensitive content digest of a table, computed in Spark:
    column names, row count and two sums of per-row 64-bit hashes over
    every column (maps as sorted entry arrays, which Spark can hash)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = [
        F.array_sort(F.map_entries(F.col(f.name))) if isinstance(f.dataType, MapType)
        else F.col(f.name)
        for f in sorted(df.schema.fields, key=lambda f: f.name)
    ]
    h = df.select(F.xxhash64(*cols).alias("h"), F.hash(*cols).alias("g"))
    row = h.agg(
        F.count("*"), F.sum(F.col("h").cast("decimal(38,0)")),
        F.sum(F.col("g").cast("decimal(38,0)")),
    ).first()
    return (tuple(sorted(df.columns)), *row)


# ---- search: engine results against NumPy / pandas re-computations ----

def topk_by_cosine(result: pd.DataFrame, ids: np.ndarray, mat: np.ndarray,
                   qv: np.ndarray, k: int, exclude: str | None = None) -> list[str]:
    """`result` (id, similarity) must be a top-k of brute-force cosine over
    the node embeddings `mat` (rows keyed by `ids`): the same similarity
    values, ties in any order."""
    qv = qv.astype(np.float64)
    norms, qn = np.linalg.norm(mat, axis=1), float(np.linalg.norm(qv))
    with np.errstate(invalid="ignore", divide="ignore"):
        sims = dict(zip(ids, np.where((norms > 0) & (qn > 0), mat @ qv / (norms * qn), 0.0)))
    if exclude is not None:
        sims.pop(exclude, None)
    want = sorted(sims.values(), reverse=True)[:k]
    got = [sims.get(i, np.nan) for i in result["id"]]
    if len(got) != len(want) or not np.allclose(got, want, atol=1e-6):
        return [f"top-{k} cosine differs from brute force: {got[:3]} vs {want[:3]}"]
    if "similarity" in result and not np.allclose(result["similarity"], got, atol=1e-6):
        return ["reported similarity differs from brute-force cosine"]
    return []


def embedding_matrix(nodes_pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    with_emb = nodes_pdf[nodes_pdf["embedding"].notna()]
    return with_emb["id"].to_numpy(), np.stack(with_emb["embedding"].to_numpy()).astype(np.float64)


def _first_k(df: pd.DataFrame, k: int) -> list[str]:
    return df["id"].head(k).tolist()


def expected_filter(op: str, nodes: pd.DataFrame, q: str, k: int) -> list[str]:
    """pandas re-statement of the cheap filter searches."""
    text = nodes["source_text"].fillna("")
    low = text.str.lower()
    if op == "text":
        hit = nodes[text.str.contains(q, regex=False)]
        hit = hit.assign(_len=hit["source_text"].str.len())
        return _first_k(hit.sort_values(["_len", "id"]), k)
    if op == "metadata":
        hit = nodes[low.str.contains(q.lower(), regex=False)]
        return _first_k(hit.sort_values("id"), k)
    if op in ("name", "structural"):
        mask = low.str.contains(q.lower(), regex=False)
        if op == "structural":
            mask &= nodes["node_type"].isin(["Entity", "Tool"])
        hit = nodes[mask]
        name = hit["source_text"].str.lower()
        tier = np.where(name == q.lower(), 1, np.where(name.str.startswith(q.lower()), 2, 3))
        hit = hit.assign(_tier=tier, _len=hit["source_text"].str.len())
        return _first_k(hit.sort_values(["_tier", "_len", "id"]), k)
    raise ValueError(op)


def expected_graph_query(op: str, edges: pd.DataFrame, arg: str) -> list:
    m = edges[edges["edge_type"] == "MENTIONS"]
    if op == "conv_entities":
        return sorted(m.loc[m["conv_id"] == arg, "dst"].unique())
    if op == "mentioners":
        hit = m[m["dst"] == arg].sort_values(["conv_id", "turn_idx"])
        return list(zip(hit["src"], hit["conv_id"], hit["turn_idx"]))
    raise ValueError(op)


def path_is_shortest(edges: pd.DataFrame, src: str, dst: str, path, max_depth: int) -> list[str]:
    adj: dict[str, list[str]] = {}
    for s, d in zip(edges["src"], edges["dst"]):
        adj.setdefault(s, []).append(d)
    dist, todo = {src: 0}, deque([src])
    while todo:
        u = todo.popleft()
        if dist[u] >= max_depth:
            continue
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                todo.append(v)
    if path is None:
        return [] if dst not in dist else [f"no path returned, BFS depth {dist[dst]}"]
    if path[0] != src or path[-1] != dst:
        return [f"path endpoints wrong: {path[:1]}..{path[-1:]}"]
    edge_set = set(zip(edges["src"], edges["dst"]))
    if any((a, b) not in edge_set for a, b in zip(path, path[1:])):
        return ["path uses a non-edge"]
    if dst not in dist or len(path) - 1 != dist[dst]:
        return [f"path length {len(path) - 1}, BFS depth {dist.get(dst)}"]
    return []


# ---- graph entries: Spark result against the DuckDB oracle twin ----

class EntryOracle:
    """Runs `oracle_sql()[name]` on DuckDB over the same parquet tables and
    compares with the order-insensitive value hash the project's
    entry-verification tool uses (tools/verify_entry.py)."""

    TABLES = ("documents", "embeddings", "orders", "lineitem", "events")

    def __init__(self, sf_dir: str, oracle_sql: dict[str, str]) -> None:
        import duckdb

        self._hash = _repo_module("tools/verify_entry.py", "verify_entry").value_hash
        self._sql = oracle_sql
        self._con = duckdb.connect()
        for t in self.TABLES:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def close(self) -> None:
        self._con.close()

    def problems(self, name: str, spark_pdf: pd.DataFrame) -> list[str]:
        duck = self._con.execute(self._sql[name]).df()
        if len(spark_pdf) != len(duck):
            return [f"{name}: rows {len(spark_pdf)} vs oracle {len(duck)}"]
        if sorted(spark_pdf.columns) != sorted(duck.columns):
            return [f"{name}: columns {sorted(spark_pdf.columns)} vs {sorted(duck.columns)}"]
        if self._hash(spark_pdf) != self._hash(duck):
            return [f"{name}: value hash differs from oracle"]
        return []
