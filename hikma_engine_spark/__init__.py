"""hikma_engine_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch reimplementation of the indexing semantics of
``foyzulkarim/hikma-engine`` (a 4-phase batch pipeline: discover →
extract → enrich/link → materialize; see /root/reference/src/core/
PhaseManager.ts) re-expressed as idiomatic Spark DataFrame programs over
multi-turn conversation/agent transcript tables
``(conv_id, turn_idx, role, text, tool, ts)``.

Package layout:

- ``session``    — SparkSession builder (AQE, Arrow, UTC, shuffle sizing)
- ``schemas``    — StructTypes for transcripts / nodes / edges / state
- ``vocab``      — deterministic entity gazetteer + alias clusters + tools
- ``synth``      — seeded synthetic transcript corpus generator (test data)
- ``extraction`` — the deterministic mention/triple extraction spec
- ``stages``     — discover / extract / link / materialize DataFrame stages
- ``pipeline``   — driver-side orchestrator with checkpoint/resume
- ``functions``  — embeddings, similarity, text analysis (pandas UDFs)
- ``operators``  — dedup (exact/MinHash/SimHash/Jaccard), ANN, graph algos,
                   sketches, ranking, rules, layout, export
- ``query``      — semantic / metadata / hybrid search + graph traversal
- ``sources``    — schema-enforced transcript scan (parquet / Iceberg)
- ``streaming``  — optional Structured Streaming front-end
"""

__version__ = "0.1.0"
