"""Oracle parity at sf0.001 for the entries whose graph building blocks
are shared in operators/graph.py: the walk with restart (PageRank,
personalized PageRank), the min-relaxation (shortest paths, temporal
reachability), the wedge enumeration (triangles, edge support, k-truss)
and the superstep driver's two entry-file loops (k-truss, HITS). Each
entry must hash equal to its DuckDB ``oracle_sql()`` twin, exactly as
``tools/verify_entry.py`` compares them."""

from __future__ import annotations

import duckdb
import pytest
from test_contract_queries import SF_DIR, entrymod

from tools.verify_entry import TABLES, value_hash

ENTRIES = [
    "g_pagerank_entities",
    "g_ppr_related",
    "g_shortest_paths",
    "ev_temporal_reach",
    "g_triangles",
    "g_edge_support",
    "g_ktruss",
    "g_hits_bipartite",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", ENTRIES)
def test_graph_entry_matches_oracle(spark, duck, name):
    got = entrymod.queries()[name](spark, SF_DIR).toPandas()
    want = duck.execute(entrymod.oracle_sql()[name]).fetchdf()
    assert len(got) > 0
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) == len(want)
    assert value_hash(got) == value_hash(want)
