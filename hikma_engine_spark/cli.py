"""spark-submit entry point (the reference's CLI analog, src/cli/main.ts).

Usage:
  spark-submit --py-files hikma_engine_spark.zip main.py index \\
      --transcripts /path/transcripts_parquet --out /path/kg_out
  spark-submit ... main.py incremental --transcripts ... --out ...
  spark-submit ... main.py search --out /path/kg_out --query "postgres" -k 10
  spark-submit ... main.py stats --out /path/kg_out

On a cluster the session comes from spark-submit's conf (we only
getOrCreate); locally it falls back to the tuned local builder.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark(app: str):
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    try:
        # under spark-submit the builder picks up submitted conf
        return SparkSession.builder.appName(app).getOrCreate()
    except Exception:
        from .session import get_spark

        return get_spark(app)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="hikma-engine-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_idx = sub.add_parser("index", help="full 4-phase KG build")
    p_idx.add_argument("--transcripts", required=True)
    p_idx.add_argument("--out", required=True)
    p_idx.add_argument("--run-id", default="cli-run")
    p_idx.add_argument("--no-resume", action="store_true")
    p_idx.add_argument(
        "--buckets",
        type=int,
        default=None,
        help="bucketed COW layout (enables incremental re-indexing)",
    )

    p_inc = sub.add_parser("incremental", help="re-index changed conversations")
    p_inc.add_argument("--transcripts", required=True)
    p_inc.add_argument("--out", required=True)
    p_inc.add_argument("--run-id", default="cli-incr")
    p_inc.add_argument("--buckets", type=int, default=64)
    p_inc.add_argument(
        "--delta",
        default=None,
        help="parquet of the changed/added conversations' FULL row sets "
        "(O(delta) change detection — the snapshot-range read analog); "
        "without it the full input is rescanned and content-hash-diffed",
    )
    p_inc.add_argument(
        "--deleted",
        nargs="*",
        default=[],
        help="conv_ids removed from the corpus (delta mode only)",
    )

    p_q = sub.add_parser("search", help="semantic search over the built KG")
    p_q.add_argument("--out", required=True)
    p_q.add_argument("--query", required=True)
    p_q.add_argument("-k", type=int, default=10)
    p_q.add_argument("--types", nargs="*", default=None)
    p_q.add_argument("--min-similarity", type=float, default=0.0)

    p_s = sub.add_parser(
        "stats", help="node/edge histograms of the built KG (parquet footers)"
    )
    p_s.add_argument("--out", required=True)

    p_c = sub.add_parser(
        "compact",
        help="rewrite fragmented partition dirs back to one file per dir "
        "(small-files maintenance after repeated incrementals; "
        "content-identical, row-count-verified before the swap)",
    )
    p_c.add_argument("--out", required=True)
    p_c.add_argument("--tables", nargs="*", default=None)

    args = ap.parse_args(argv)
    if args.cmd == "stats":
        # both tables are partitioned by type, so the histograms are
        # footer row counts summed per node_type=/edge_type= dir: no
        # Spark session, no job, current after incremental runs
        from .pipeline import _histogram_from_lineage, _parquet_file_counts

        stats = {}
        for table, prefix in (("nodes", "node_type="), ("edges", "edge_type=")):
            path = os.path.join(args.out, table)
            if not os.path.isdir(path):
                ap.error(f"no {table} table under {args.out}")
            hist = _histogram_from_lineage(_parquet_file_counts(path), prefix)
            stats[table] = {t: n for t, n in sorted(hist.items()) if n}
        print(json.dumps(stats))
        return 0

    spark = _spark(f"hikma_{args.cmd}")

    from .pipeline import Pipeline

    if args.cmd == "index":
        p = Pipeline(
            spark, args.transcripts, args.out, run_id=args.run_id,
            n_buckets=args.buckets,
        )
        res = p.run(resume=not args.no_resume)
        print(
            json.dumps(
                {
                    "run_id": res.run_id,
                    "skipped": res.skipped,
                    "elapsed_sec": round(res.elapsed_sec, 2),
                    "stats": res.phase_stats.get("materialize", {}),
                },
                default=str,
            )
        )
    elif args.cmd == "incremental":
        p = Pipeline(
            spark, args.transcripts, args.out, run_id=args.run_id,
            n_buckets=args.buckets,
        )
        res = p.run_incremental(
            delta_path=args.delta, deleted_conv_ids=tuple(args.deleted)
        )
        # same JSON shape as `index` (run_id / skipped / elapsed_sec /
        # stats), plus the incremental headline fields at the top level
        print(
            json.dumps(
                {
                    "run_id": res.run_id,
                    "skipped": res.skipped,
                    "changed_convs": res.phase_stats["discover"]["changed_convs"],
                    "affected_buckets": res.phase_stats["discover"].get(
                        "affected_buckets", []
                    ),
                    "elapsed_sec": round(res.elapsed_sec, 2),
                    "stats": res.phase_stats,
                },
                default=str,
            )
        )
    elif args.cmd == "compact":
        p = Pipeline(spark, "", args.out)
        report = p.compact(tables=tuple(args.tables) if args.tables else None)
        print(json.dumps(report, default=str))
    elif args.cmd == "search":
        from .query.search import semantic_search

        p = Pipeline(spark, "", args.out)
        res = semantic_search(
            p.nodes(),
            args.query,
            k=args.k,
            node_types=args.types,
            min_similarity=args.min_similarity,
        )
        for row in res.collect():
            print(
                json.dumps(
                    {
                        "rank": row["rank"],
                        "id": row["id"],
                        "node_type": row["node_type"],
                        "similarity": round(row["similarity"], 4),
                        "preview": (row["source_text"] or "")[:80],
                    }
                )
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
