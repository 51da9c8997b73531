"""Driver-side orchestrator: phases, checkpoint/resume, lineage, metrics.

Analog of the reference's PhaseManager (src/core/PhaseManager.ts:82-228):
- ordered phase list (data_discovery → structure_extraction →
  ai_enrichment → final_assembly ⇒ discover → extract → link →
  materialize)
- skip-if-complete resume (PhaseManager.ts:167-187): a phase whose
  state row says 'completed' and whose output exists is loaded, not
  recomputed
- markPhaseStarted/Completed/Failed bookkeeping (phase_status table ⇒
  ``_pipeline_state`` JSONL, written atomically per phase)
- per-phase AND per-partition metrics (itemsProcessed analog,
  PhaseManager.ts:480-486; per-partition row counts = lineage manifest)

Outputs are parquet directories under ``out_dir`` (with an Iceberg
catalog these become MERGE INTO table writes; deterministic business
keys make either idempotent). Each phase write is atomic at the
directory level: write to ``<name>.tmp`` then rename.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from urllib.parse import quote, unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .splits import effective_scan_splits
from .stages import discover, extract, link, materialize
from .stages.materialize import (
    GLOBAL_EDGE_TYPES,
    GLOBAL_NODE_TYPES,
    PER_CONV_EDGE_TYPES,
    PER_CONV_NODE_TYPES,
)

PHASES = ("discover", "extract", "link", "materialize")

_OUTPUTS = {
    "discover": ["conversations"],
    "extract": ["mentions"],
    "link": ["links", "same_as"],
    "materialize": ["nodes", "edges"],
}

# Layout is a workload choice (Pipeline(n_buckets=...)):
# - unbucketed (default): fastest full builds — no bucket shuffle before
#   the big writes; incremental runs are not available.
# - bucketed (n_buckets=N): big per-conversation tables are additionally
#   partitioned by hash(conv_id) buckets — the copy-on-write granularity
#   for run_incremental: only buckets touched by changed conversations
#   get rewritten (the parquet-level analog of Iceberg MERGE rewriting
#   only affected data files). Costs ~10-20% on full builds.
_PARTITION_BY_PLAIN = {"nodes": ["node_type"], "edges": ["edge_type"]}
_PARTITION_BY_BUCKETED = {
    "mentions": ["bucket"],
    "nodes": ["node_type", "bucket"],
    "edges": ["edge_type", "bucket"],
}
# the global node types are small: at most this many files per type
_GLOBAL_DIM_FILES = 8


def bucket_col(n_buckets: int) -> F.Column:
    return F.pmod(
        F.xxhash64(F.coalesce(F.col("conv_id"), F.lit("∅"))), F.lit(n_buckets)
    ).cast("int")


def _now() -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())


def _histogram_from_lineage(per_partition: dict[str, int], prefix: str) -> dict[str, int]:
    """Aggregate per-file lineage counts by partition value (the dirs
    written by partitionBy carry '<col>=<value>/' path segments)."""
    hist: dict[str, int] = {}
    for rel, n in per_partition.items():
        for seg in rel.split(os.sep):
            if seg.startswith(prefix):
                key = seg[len(prefix):]
                hist[key] = hist.get(key, 0) + n
    return hist


def _parquet_file_counts(root: str) -> dict[str, int]:
    """Per-file row counts straight from parquet footers (driver-side
    metadata read — zero Spark jobs). Keys are paths relative to root,
    so partitionBy dirs (node_type=.../) stay visible in the lineage.
    Footers are read with a thread pool — bucketed tables have hundreds
    of files and a serial walk costs seconds per write."""
    import pyarrow.parquet as pq

    paths = [
        os.path.join(dirpath, f)
        for dirpath, _dirs, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    ]
    if not paths:
        return {}
    with ThreadPoolExecutor(min(32, len(paths))) as ex:
        counts = list(ex.map(lambda p: pq.read_metadata(p).num_rows, paths))
    return {os.path.relpath(p, root): n for p, n in zip(paths, counts)}


# suffixes of a table dir mid-swap: <table>.tmp is a new copy being
# written, <table>.old the parked previous copy (see _swap_dir), and
# <table>.parked holds parked partition dirs, one entry per dir named
# by its quoted relative path (see Pipeline._replace_partition_dirs)
_TMP, _OLD, _PARKED = ".tmp", ".old", ".parked"


def _move(src: str, dst: str) -> None:
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.replace(src, dst)


def _swap_dir(new: str, final: str) -> None:
    """Move a freshly written table dir into place so that a readable
    table survives every crash point: park the old dir, move the new
    one in, THEN delete the parked copy. A crash between the two
    renames leaves ``final`` absent and ``final.old`` holding the data;
    ``Pipeline._sweep`` restores it on the next run."""
    old = final + _OLD
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(final):
        os.replace(final, old)
    os.replace(new, final)
    shutil.rmtree(old, ignore_errors=True)


@dataclass
class PipelineResult:
    run_id: str
    out_dir: str
    phase_stats: dict[str, dict] = field(default_factory=dict)
    skipped: list[str] = field(default_factory=list)
    elapsed_sec: float = 0.0


class StateStore:
    """``_pipeline_state`` — JSONL of phase status rows (schema mirrors
    phase_status, src/persistence/models/PhaseStatusModel.ts:9-27)."""

    def __init__(self, out_dir: str) -> None:
        import threading

        self.path = os.path.join(out_dir, "_pipeline_state", "state.jsonl")
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        # concurrent phases (discover ∥ extract) append from two
        # threads; a stats row with a big lineage map can exceed the
        # atomic-append size, so serialize writers
        self._lock = threading.Lock()

    def rows(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def append(self, row: dict) -> None:
        with self._lock, open(self.path, "a") as f:
            f.write(json.dumps(row, sort_keys=True) + "\n")

    def status(self, run_id: str, phase: str) -> str | None:
        """Latest status for (run, phase); any run counts — outputs are
        keyed by deterministic ids, so a completed phase from a prior
        run is equally valid (INSERT OR REPLACE semantics)."""
        row = self.latest(phase)
        return row["status"] if row else None

    def latest(self, phase: str) -> dict | None:
        """Latest state row for a phase (status + the input watermark it
        was computed against — resume compares both, mirroring the
        reference's IndexingStrategy watermark check before skipping)."""
        row = None
        for r in self.rows():
            if r["phase_name"] == phase:
                row = r
        return row

    def watermark(self) -> str | None:
        wm = None
        for r in self.rows():
            if r.get("watermark"):
                wm = r["watermark"]
        return wm


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        transcripts_path: str,
        out_dir: str,
        run_id: str = "run-0",
        n_buckets: int | None = None,
    ) -> None:
        self.spark = spark
        self.transcripts_path = transcripts_path
        self.out_dir = out_dir
        self.run_id = run_id
        self.n_buckets = n_buckets  # None → unbucketed layout (full-build speed)
        self.partition_by = (
            _PARTITION_BY_BUCKETED if n_buckets else _PARTITION_BY_PLAIN
        )
        os.makedirs(out_dir, exist_ok=True)
        self.state = StateStore(out_dir)
        self._needs_rebalance: dict[str, bool] = {}

    # ---- IO helpers ----
    def _path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def _exists(self, name: str) -> bool:
        p = self._path(name)
        return os.path.exists(os.path.join(p, "_SUCCESS"))

    def _write(self, df: DataFrame, name: str, reject=None) -> dict:
        """Atomic parquet write + per-partition lineage counts.

        Lineage counts are computed from the *written files* (cheap
        metadata-only scan), not from the input plan — counting the
        plan itself would re-execute every upstream UDF a second time.
        ``reject(written)`` may return an error message: the new copy is
        then dropped and the committed table is left as it was.
        """
        tmp = self._path(name) + _TMP
        final = self._path(name)
        writer = df.write.mode("overwrite")
        if name in self.partition_by:
            writer = writer.partitionBy(*self.partition_by[name])
        writer.parquet(tmp)
        if not _parquet_file_counts(tmp) and name in self.partition_by:
            # a partitioned write of zero rows emits no files at all —
            # rewrite unpartitioned so the table keeps a readable schema
            df.limit(0).write.mode("overwrite").parquet(tmp)
        error = reject and reject(self.spark.read.parquet(tmp))
        if error:
            shutil.rmtree(tmp)
            raise ValueError(error)
        _swap_dir(tmp, final)
        per_part = _parquet_file_counts(final)
        return {
            "rows": sum(per_part.values()),
            "partitions": len(per_part),
            "per_partition": per_part,
        }

    def _write_dim(self, df: DataFrame, name: str) -> dict:
        """Conversations-dim write that refuses duplicate (conv_id,
        turn_idx) keys (n_turns vs distinct turn_idx count: one bounded
        job over the written files, never the dim in driver memory)."""

        def reject(dim: DataFrame) -> str | None:
            if dim.filter(F.col("n_turns") != F.col("n_distinct_turns")).limit(1).count():
                return "duplicate (conv_id, turn_idx) keys in the input"
            return None

        return self._write(df, name, reject)

    def _bucketed(self, df: DataFrame, files: int | None = None) -> DataFrame:
        """The store layout's shaping of a table or of a branch of one;
        the unbucketed layout leaves ``df`` as it is. Bucketed: the
        conv-hash ``bucket`` column, after a hash shuffle on it into
        ``files`` partitions (at most n_buckets) when given — each task
        owns whole buckets, which bounds the file count at one per
        (partition values × bucket)."""
        if not self.n_buckets:
            return df
        bucket = bucket_col(self.n_buckets)
        if files:
            df = df.repartition(min(files, self.n_buckets), bucket)
        return df.withColumn("bucket", bucket)

    def _read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self._path(name))

    def _input_watermark(self, path: str | None = None) -> str:
        """Cheap input-change signal (analog of last_indexed_commit,
        src/persistence/db/connection.ts:262-287): max mtime across the
        input's files — directories of parquet parts included. Content
        hashes (the strong signal) drive run_incremental; this guards
        run(resume=True) against silently serving stale outputs."""
        p = path or self.transcripts_path
        if os.path.isdir(p):
            stats = [
                os.stat(os.path.join(dp, f))
                for dp, _dirs, files in os.walk(p)
                for f in files
            ] or [os.stat(p)]
        else:
            stats = [os.stat(p)]
        # nanosecond mtime + file count + total bytes: whole-second
        # truncation let a rewrite within the same second as the
        # recorded watermark serve stale outputs on resume
        mt_ns = max(st.st_mtime_ns for st in stats)
        return f"{mt_ns}:{len(stats)}:{sum(st.st_size for st in stats)}"

    # ---- phase bodies ----
    def transcripts(
        self, keys: tuple[str, ...] = ("conv_id", "turn_idx"), path: str | None = None
    ) -> DataFrame:
        """Input scan (``transcripts_path``, or a delta's ``path``),
        rebalanced for the UDF-heavy stages.

        Small local corpora arrive as a single parquet split; the
        extraction/embedding pandas UDFs are CPU-bound per row, so a
        one-split input would serialize them on one core. Hash-
        repartitioning on (conv_id, turn_idx) spreads rows evenly —
        including the rows of pathological 10k-turn conversations
        (extraction is per-turn, so no co-location is needed). On a
        real cluster the input already has ≥ parallelism splits and
        this is a no-op. Discover passes keys=("conv_id",) so its
        groupBy(conv_id) REUSES this exchange (Catalyst sees the
        hashpartitioning requirement already satisfied — one shuffle,
        not two).

        The trigger is ROW-GROUP aware (splits.effective_scan_splits):
        getNumPartitions() counts byte-range splits, which Spark pads
        to defaultParallelism even when a single row group puts every
        row in one task — the round-2 guard was fooled exactly this way
        and serialized the whole extract+embed path on one core.
        """
        path = path or self.transcripts_path
        df = self.spark.read.parquet(path)
        target = self.spark.sparkContext.defaultParallelism
        if path not in self._needs_rebalance:
            # decided once per Pipeline instance and path: the probe
            # costs one tiny job (DF→RDD conversion) and every phase
            # calls transcripts() — the input cannot change under a run
            # (the watermark guard recomputes stale phases anyway)
            self._needs_rebalance[path] = effective_scan_splits(df, target) < target
        if self._needs_rebalance[path]:
            df = df.repartition(target, *keys)
        return df

    def _run_discover(self) -> dict:
        t = self.transcripts(keys=("conv_id",))
        dim = discover.conversations_dim(t)
        return {"conversations": self._write_dim(dim, "conversations")}

    def _run_extract(self) -> dict:
        """Mention detection (the expensive UDF pass) is the extract
        phase's materialized output; triple assembly is a cheap
        projection over it and is folded into materialize — writing the
        triple set twice (triples + edges) would double the pipeline's
        largest IO volume for no resume benefit."""
        mentions = extract.extract_mentions(self.transcripts())
        return {"mentions": self._write(self._bucketed(mentions, self.n_buckets), "mentions")}

    def _run_link(self) -> dict:
        mentions = self._read("mentions")
        links = link.build_links(mentions)
        stats = {"links": self._write(links, "links")}
        stats["same_as"] = self._write(link.same_as_edges(self._read("links")), "same_as")
        return stats

    def _run_materialize(self) -> dict:
        """Edges and nodes, written as two INDEPENDENT jobs submitted
        from two threads (supported by the Spark scheduler; on a cluster,
        concurrent jobs fill executor gaps the other job's stage tails
        leave). Nothing in the node build reads the edges table: the Tool
        id dim comes from the source columns."""
        t = self.transcripts()
        mentions, links = self._read("mentions"), self._read("links")
        # triple assembly is narrow and UDF-free, so it reads the input
        # without the rebalance shuffle the embedding branch needs
        edges = self._bucketed(
            materialize.build_edges(
                self.spark.read.parquet(self.transcripts_path),
                mentions,
                self._read("same_as"),
            ),
            self.n_buckets,
        )
        # Turn rows embed after the layout's shuffle, so vectors never
        # cross an exchange; Mention rows keep the mentions scan's lineage
        per_conv = materialize.per_conv_nodes(
            self._bucketed(t, self.n_buckets), mentions, links
        )
        global_ = materialize.global_nodes(
            self._read("conversations"),
            links,
            mentions,
            materialize.tool_source_ids(t, mentions),
        )
        nodes = self._bucketed(per_conv).unionByName(
            self._bucketed(global_, _GLOBAL_DIM_FILES)
        )
        with ThreadPoolExecutor(2) as pool:
            f_edges = pool.submit(self._write, edges, "edges")
            f_nodes = pool.submit(self._write, nodes, "nodes")
            stats = {"edges": f_edges.result(), "nodes": f_nodes.result()}
        # node/edge-type histograms (A2 metrics) — free from the
        # partitionBy directory layout + footer counts, no Spark job
        stats["node_types"] = _histogram_from_lineage(
            stats["nodes"]["per_partition"], "node_type="
        )
        stats["edge_types"] = _histogram_from_lineage(
            stats["edges"]["per_partition"], "edge_type="
        )
        return stats

    # ---- orchestration ----
    def _tracked(self, run_id: str, phase: str, watermark: str | None, body) -> dict:
        """Run ``body()`` between its state rows: 'running' first, then
        'completed' with the stats it returns, or 'failed' if it raises;
        both end rows carry the phase's wall seconds as ``elapsed_s``."""
        started, t0 = _now(), time.perf_counter()

        def row(status: str, stats: dict) -> None:
            r = {
                "run_id": run_id,
                "phase_name": phase,
                "partition_id": None,
                "status": status,
                "started_at": started,
                "completed_at": None,
                "watermark": watermark,
                "stats": stats,
            }
            if status != "running":
                r["completed_at"] = _now()
                r["elapsed_s"] = time.perf_counter() - t0
            self.state.append(r)

        row("running", {})
        try:
            stats = body()
        except Exception:
            row("failed", {})
            raise
        row("completed", stats)
        return stats

    def run(self, resume: bool = True, stop_after: str | None = None) -> PipelineResult:
        bodies = {
            "discover": self._run_discover,
            "extract": self._run_extract,
            "link": self._run_link,
            "materialize": self._run_materialize,
        }
        result = PipelineResult(run_id=self.run_id, out_dir=self.out_dir)
        t0 = time.time()
        self._sweep()
        # same stale-plan-cache guard as run_incremental: a cached plan
        # from an earlier run over this out_dir would serve pre-rewrite
        # file contents after phases overwrite their tables
        self.spark.catalog.clearCache()
        watermark = self._input_watermark()

        def exec_phase(phase: str) -> None:
            result.phase_stats[phase] = self._tracked(
                self.run_id, phase, watermark, bodies[phase]
            )

        # skip only when a phase completed AGAINST THE SAME INPUT:
        # a completed row with a different watermark means the
        # transcripts changed since — recompute (reference:
        # IndexingStrategy compares last_indexed_commit before
        # deciding to skip, src/core/indexing/IndexingStrategy.ts:15-75)
        pending: list[str] = []
        for phase in PHASES:
            outputs_ok = all(self._exists(o) for o in _OUTPUTS[phase])
            latest = self.state.latest(phase)
            fresh = (
                latest is not None
                and latest["status"] == "completed"
                and latest.get("watermark") == watermark
            )
            if resume and fresh and outputs_ok:
                result.skipped.append(phase)
            else:
                pending.append(phase)
            if phase == stop_after:
                break

        # discover and extract both read ONLY the input transcripts —
        # when both need recompute, run them as concurrent Spark jobs
        # (the scheduler interleaves them; discover's small window agg
        # fills extract's scan/UDF stage tails instead of paying its
        # wall serially). Each still writes its own state rows, so
        # crash/resume semantics are per-phase exactly as before.
        i = 0
        while i < len(pending):
            phase = pending[i]
            if (
                phase == "discover"
                and i + 1 < len(pending)
                and pending[i + 1] == "extract"
            ):
                with ThreadPoolExecutor(2) as pool:
                    f_d = pool.submit(exec_phase, "discover")
                    f_e = pool.submit(exec_phase, "extract")
                    f_d.result()
                    f_e.result()
                i += 2
                continue
            exec_phase(phase)
            i += 1
        result.elapsed_sec = time.time() - t0
        return result

    # ---- incremental (reference: IndexingStrategy.determine,
    # src/core/indexing/IndexingStrategy.ts:15-75 — compare watermark,
    # process only the changed set, upsert) ----
    def _replace_partition_dirs(
        self, tmp_name: str, final_name: str, rel_dirs: list[str]
    ) -> None:
        """Copy-on-write commit: swap only the named partition dirs of a
        table (the parquet emulation of Iceberg MERGE rewriting only
        affected data files). A missing dir in tmp means the partition
        became empty — the old dir is still removed.

        Each old dir is parked in ``<table>.parked`` (outside every
        table scan) before its rewrite moves in, and deleted only after
        that move: a crash in between leaves the partition's only copy
        parked, and ``_sweep`` moves it back, so the retry still finds
        the unchanged conversations' rows it must carry over."""
        tmp, final = self._path(tmp_name), self._path(final_name)
        parked = final + _PARKED
        for rel in rel_dirs:
            dst = os.path.join(final, rel)
            src = os.path.join(tmp, rel)
            old = os.path.join(parked, quote(rel, safe=""))
            if os.path.exists(dst):
                _move(dst, old)
            if os.path.exists(src):
                _move(src, dst)
            shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(parked, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)

    def _write_tmp(self, df: DataFrame, name: str, table: str) -> str:
        tmp = self._path(name)
        shutil.rmtree(tmp, ignore_errors=True)
        df.write.mode("overwrite").partitionBy(*self.partition_by[table]).parquet(tmp)
        return tmp

    def run_incremental(
        self,
        run_id: str | None = None,
        delta_path: str | None = None,
        deleted_conv_ids: tuple[str, ...] = (),
    ) -> PipelineResult:
        """Re-index only the conversations whose content changed; the
        store ends digest-equal to a full rebuild of the new input.

        Two ways to hand over the new input:

        - **content-hash** (default): ``transcripts_path`` holds the
          whole new corpus; additions, modifications and deletions are
          all found in it.
        - **delta-driven** (``delta_path``): the FULL new row set of every
          changed or added conversation, plus ``deleted_conv_ids``; the
          unchanged conversations are never rescanned.

        Requires a store built with the bucketed layout. Input with
        duplicate (conv_id, turn_idx) keys raises ValueError and leaves
        the store as it was. A crash at any point leaves the committed
        conversations dim and links in place, so a retry finds the same
        changes and repairs the store.
        """
        if not self.n_buckets:
            raise ValueError(
                "run_incremental requires the bucketed layout — construct "
                "Pipeline(..., n_buckets=64) (and build the base tables "
                "with it) so copy-on-write has bucket dirs to swap"
            )
        # deletions are only honored by the delta-driven mode (the
        # content-hash mode derives the changed set purely from the
        # input diff) — silently dropping an explicit deletion list
        # would report success while not honoring the user's intent
        if deleted_conv_ids and delta_path is None:
            raise ValueError(
                "deleted_conv_ids requires delta_path (delta-driven mode); "
                "in content-hash mode deletions are detected from the "
                "input itself — remove the conversations from the input "
                "instead of passing an explicit deletion list"
            )
        self._sweep()
        # fail fast (before any write) when the stored tables were built
        # WITHOUT the bucketed layout — otherwise the mismatch surfaces
        # as an UNRESOLVED_COLUMN `bucket` crash halfway through
        if "bucket" not in self._read("mentions").columns:
            raise ValueError(
                f"store at {self.out_dir} was built without the bucketed "
                "layout (no bucket column in mentions) — rebuild with "
                f"Pipeline(..., n_buckets={self.n_buckets}).run() before "
                "incremental runs"
            )
        rid = run_id or (self.run_id + "-incr")
        t0 = time.time()
        # drop cached plans from earlier runs: Spark's CacheManager
        # matches by logical plan, so a cache built over THIS out_dir's
        # previous file contents would silently serve stale data after
        # the copy-on-write swaps below
        self.spark.catalog.clearCache()
        result = PipelineResult(run_id=rid, out_dir=self.out_dir)

        def body() -> dict:
            if delta_path is None:
                source = self.transcripts()
                new_dim = discover.conversations_dim(self.transcripts(keys=("conv_id",)))
                changed_ids, mode = self._hash_diff, "content_hash"
            else:
                source, new_dim, changed_ids = self._delta_inputs(
                    delta_path, deleted_conv_ids
                )
                mode = "delta"
            return {
                "changed_convs": self._apply_changes(
                    result, source, new_dim, changed_ids, mode
                )
            }

        self._tracked(rid, "incremental", self._input_watermark(delta_path), body)
        result.elapsed_sec = time.time() - t0
        return result

    def _delta_inputs(
        self, delta_path: str, deleted_conv_ids: tuple[str, ...]
    ) -> tuple[DataFrame, DataFrame, Callable[[], DataFrame]]:
        """Delta mode's rows (rebalanced like the full input), its new
        dim — the committed rows of every conversation the delta neither
        ships nor deletes, plus the delta's own — and its changed ids:
        every conversation it ships or deletes. Those are re-indexed
        whether or not their content hash moved, since the hash covers
        only turn_idx and text, not role, tool or ts."""
        delta = self.transcripts(path=delta_path)
        # reject ambiguous input up front: a conversation present in the
        # delta AND in the deletion list would otherwise be silently
        # resurrected (rebuilt from its delta rows) — make the producer
        # pick one intent
        if deleted_conv_ids:
            conflict = (
                delta.select("conv_id")
                .filter(F.col("conv_id").isin(list(deleted_conv_ids)))
                .limit(1)
                .collect()
            )
            if conflict:
                raise ValueError(
                    f"conv_id {conflict[0]['conv_id']!r} appears in both "
                    "delta_path and deleted_conv_ids — a deleted "
                    "conversation must not ship delta rows"
                )
        replaced = delta.select("conv_id").unionByName(
            self.spark.createDataFrame([(c,) for c in deleted_conv_ids], "conv_id string")
        )
        old = self._read("conversations")
        merged = old.join(replaced, "conv_id", "left_anti").unionByName(
            discover.conversations_dim(delta).select(*old.columns)
        )
        return delta, merged, replaced.distinct

    def _hash_diff(self) -> DataFrame:
        """Content-hash mode's changed ids: the written new dim diffed
        against the committed one — a FULL OUTER join, so additions,
        modifications AND deletions all enter it."""
        old_hashes = self._read("conversations").select(
            "conv_id", F.col("content_hash").alias("old_hash")
        )
        new_hashes = self._read("conversations_incr").select(
            "conv_id", F.col("content_hash").alias("new_hash")
        )
        return (
            new_hashes.join(old_hashes, "conv_id", "full_outer")
            .filter(
                F.col("old_hash").isNull()  # added conversation
                | F.col("new_hash").isNull()  # deleted conversation
                | (F.col("new_hash") != F.col("old_hash"))  # modified
            )
            .select("conv_id")
        )

    def _apply_changes(
        self,
        result: PipelineResult,
        source: DataFrame,
        new_dim: DataFrame,
        changed_ids: Callable[[], DataFrame],
        mode: str,
    ) -> int:
        """The step both modes meet in. The new dim goes to a tmp table
        (change detection must see the OLD files, and the old dim must
        survive until every dependent table commits); ``changed_ids()``,
        the mode's distinct changed conv_ids, is called after that write,
        and ``source`` restricted to that set is what gets re-indexed."""
        stats_d = self._write_dim(new_dim, "conversations_incr")
        # reused ~8x below; never collected
        changed = changed_ids().localCheckpoint(eager=True)
        n_changed = changed.count()
        result.phase_stats["discover"] = {
            "conversations": stats_d,
            "changed_convs": n_changed,
            "mode": mode,
        }
        if n_changed == 0:
            self._swap("conversations_incr", "conversations")
            return 0
        # broadcast the changed set only when it is actually small — a
        # backfill can flip the whole corpus and a forced broadcast of
        # that would OOM the driver on a real cluster
        changed_side = F.broadcast(changed) if n_changed <= 1_000_000 else changed
        t_changed = source.join(changed_side, "conv_id", "left_semi")
        return self._incremental_core(result, changed, changed_side, t_changed, n_changed)

    def _incremental_core(
        self,
        result: PipelineResult,
        changed: DataFrame,
        changed_side: DataFrame,
        t_changed: DataFrame,
        n_changed: int,
    ) -> int:
        """Bucket-surgical copy-on-write rewrite: ``changed`` = conv_id
        DataFrame (incl. deletions), ``t_changed`` = the full transcript
        rows of changed convs. The per-conversation node and edge types
        are rebuilt from the changed slice into the buckets it touches;
        the global types are rebuilt whole from the merged inputs."""
        bcol = bucket_col(self.n_buckets)
        affected = sorted(
            r["b"] for r in changed.select(bcol.alias("b")).distinct().collect()
        )
        result.phase_stats["discover"]["affected_buckets"] = affected

        # --- extract only changed conversations; bucket-surgical merge ---
        mentions_new = self._bucketed(extract.extract_mentions(t_changed))
        m_keep = (
            self._read("mentions")
            .filter(F.col("bucket").isin(affected))
            .join(changed_side, "conv_id", "left_anti")
        )
        merged_aff = m_keep.unionByName(mentions_new.select(*m_keep.columns))
        self._write_tmp(merged_aff, "mentions_incr", "mentions")
        self._replace_partition_dirs(
            "mentions_incr", "mentions", [f"bucket={b}" for b in affected]
        )
        result.phase_stats["extract"] = {
            "mentions_rewritten_buckets": len(affected),
            "mentions_rows": sum(
                _parquet_file_counts(self._path("mentions")).values()
            ),
        }

        # --- link globally (cheap: distinct surfaces); diff vs old links
        #     DataFrame-side (exceptAll both ways — never a full collect;
        #     links = distinct surfaces, unbounded under open @-mentions) ---
        mentions = self._read("mentions")
        stats_l = self._write(link.build_links(mentions), "links_incr")
        links_new = self._read("links_incr")
        old_links = self._read("links")
        diff_surfaces = (
            old_links.exceptAll(links_new)
            .unionByName(links_new.exceptAll(old_links))
            .select("surface_norm")
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_diff_surfaces = diff_surfaces.count()
        extra_buckets: list[int] = []
        if n_diff_surfaces:
            extra_buckets = sorted(
                {
                    r["bucket"]
                    for r in mentions.join(
                        diff_surfaces, "surface_norm", "left_semi"
                    )
                    .select("bucket")
                    .distinct()
                    .collect()
                }
                - set(affected)
            )
        result.phase_stats["link"] = {
            "links": stats_l,
            "changed_surfaces": n_diff_surfaces,
        }

        # --- edges: carry unchanged rows of affected buckets, rebuild
        #     changed convs; global edge types rebuilt wholesale ---
        m_changed = mentions.filter(F.col("bucket").isin(affected)).join(
            changed_side, "conv_id", "left_semi"
        )
        per_conv_new = self._bucketed(materialize.per_conv_edges(t_changed, m_changed))
        e_carried = (
            self._read("edges")
            .filter(
                F.col("edge_type").isin(*PER_CONV_EDGE_TYPES)
                & F.col("bucket").isin(affected)
            )
            .join(changed_side, "conv_id", "left_anti")
        )
        global_new = self._bucketed(
            materialize.global_edges(mentions, link.same_as_edges(links_new))
        )
        all_edges = (
            e_carried.select(*per_conv_new.columns)
            .unionByName(per_conv_new)
            .unionByName(global_new)
        )
        self._write_tmp(all_edges, "edges_incr", "edges")
        edge_dirs = [
            f"edge_type={e}/bucket={b}" for e in PER_CONV_EDGE_TYPES for b in affected
        ] + [f"edge_type={e}" for e in GLOBAL_EDGE_TYPES]
        self._replace_partition_dirs("edges_incr", "edges", edge_dirs)
        result.phase_stats.setdefault("materialize", {})["edges_rewritten"] = {
            "per_conv_buckets": len(affected),
            "global_types": list(GLOBAL_EDGE_TYPES),
        }

        # --- nodes: carry + refresh Turn/Mention in affected buckets,
        #     re-embed only changed convs; global dims rebuilt wholesale ---
        def refresh_canonical(df: DataFrame) -> DataFrame:
            if not n_diff_surfaces:
                return df
            return (
                df.withColumn("surface_norm", F.col("properties")["surface_norm"])
                # links = distinct surfaces, unbounded under open
                # @-mentions — AQE picks broadcast only when small
                .join(links_new, "surface_norm", "left")
                .withColumn(
                    "canonical_id",
                    F.when(
                        (F.col("node_type") == "Mention")
                        & F.col("canonical_norm").isNotNull(),
                        F.concat(F.lit("entity:"), F.col("canonical_norm")),
                    ).otherwise(F.col("canonical_id")),
                )
                .drop("surface_norm", "canonical_norm")
            )

        # Mention nodes carry canonical ids, so a re-link also rewrites
        # their buckets the change never touched
        mention_buckets = sorted(set(affected) | set(extra_buckets))
        old_nodes = self._read("nodes")
        n_carried = refresh_canonical(
            old_nodes.filter(
                F.col("node_type").isin(*PER_CONV_NODE_TYPES)
                & F.col("bucket").isin(affected)
            )
            .join(changed_side, "conv_id", "left_anti")
            .unionByName(
                old_nodes.filter(
                    (F.col("node_type") == "Mention")
                    & F.col("bucket").isin(extra_buckets)
                )
            )
        )
        n_new = self._bucketed(
            materialize.per_conv_nodes(t_changed, m_changed, links_new)
        )
        # the FULL merged mentions feed the global build: entity nodes
        # carry adjacency aggregates (A7) over the whole corpus; the Tool
        # ids are the INVOKES targets of the edges just committed
        tool_ids = (
            self._read("edges")
            .filter(F.col("edge_type") == "INVOKES")
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        n_global = self._bucketed(
            materialize.global_nodes(
                self._read("conversations_incr"), links_new, mentions, tool_ids
            )
        )
        all_nodes = (
            n_carried.select(*n_new.columns)
            .unionByName(n_new)
            .unionByName(n_global)
        )
        self._write_tmp(all_nodes, "nodes_incr", "nodes")
        node_dirs = [
            f"node_type={t}/bucket={b}"
            for t in PER_CONV_NODE_TYPES
            for b in (mention_buckets if t == "Mention" else affected)
        ] + [f"node_type={t}" for t in GLOBAL_NODE_TYPES]
        self._replace_partition_dirs("nodes_incr", "nodes", node_dirs)
        result.phase_stats["materialize"]["nodes_rewritten"] = {
            "turn_buckets": len(affected),
            "mention_buckets": len(mention_buckets),
            "global_types": list(GLOBAL_NODE_TYPES),
        }

        # --- commit the change-detection signals LAST: links, then the
        #     conversations dim (the content-hash source). A crash any
        #     time before this point leaves both old tables intact, so a
        #     retry re-detects the same delta and repairs everything. ---
        self._swap("links_incr", "links")
        self._write(link.same_as_edges(self._read("links")), "same_as")
        self._swap("conversations_incr", "conversations")
        return n_changed

    def _swap(self, tmp_name: str, final_name: str) -> None:
        """Replace a table dir with a freshly-written one (the parquet
        emulation of an atomic MERGE commit)."""
        _swap_dir(self._path(tmp_name), self._path(final_name))

    def _sweep(self) -> None:
        """Finish the swaps a crash interrupted, before anything reads
        the store: a parked ``<t>.old`` whose table is missing IS the
        table (crash between the two renames of ``_swap_dir``) and is
        moved back; otherwise it is a stale copy and is deleted, as is
        every half-written ``<t>.tmp``. Likewise each partition dir
        parked in ``<t>.parked`` whose place in the table is empty is
        moved back (crash inside ``_replace_partition_dirs``)."""
        for entry in os.listdir(self.out_dir):
            path = self._path(entry)
            if entry.endswith(_OLD):
                table = path[: -len(_OLD)]
                if os.path.exists(table):
                    shutil.rmtree(path)
                else:
                    os.replace(path, table)
            elif entry.endswith(_PARKED):
                table = path[: -len(_PARKED)]
                for name in os.listdir(path):
                    dst = os.path.join(table, unquote(name))
                    if not os.path.exists(dst):
                        _move(os.path.join(path, name), dst)
                shutil.rmtree(path)
            elif entry.endswith(_TMP):
                shutil.rmtree(path)

    # ---- maintenance ----
    _COMPACTABLE = ("conversations", "mentions", "links", "same_as", "nodes", "edges")

    def compact(
        self,
        tables: tuple[str, ...] | None = None,
        target_files_per_dir: int = 1,
    ) -> dict:
        """File-compaction maintenance for the COW layout.

        Repeated ``run_incremental`` calls rewrite only the touched
        bucket dirs, and each surgical rewrite leaves its own task
        files — over many deltas a partition dir fragments into small
        files (the classic small-files problem; at cluster scale this
        is the bin-packing rewrite every table format schedules:
        Iceberg ``rewrite_data_files`` / OPTIMIZE). ``compact()``
        rewrites each fragmented table back to one file per
        partition/bucket dir, content-identical (footer row counts
        re-verified BEFORE the swap; byte-level digest equality pinned
        by ``test_incremental.test_compact_preserves_content``),
        using the same atomic tmp-write + swap as every other write.
        Only fragmented tables are touched.
        """
        # leftovers of a crashed earlier swap are settled for EVERY
        # table first — a table that never re-crosses the fragmentation
        # threshold would otherwise keep a stale copy on disk forever
        self._sweep()
        report = self._tracked(
            self.run_id,
            "compact",
            None,
            lambda: self._compact_tables(tables or self._COMPACTABLE, target_files_per_dir),
        )
        self.spark.catalog.clearCache()
        return report

    def _compact_tables(self, tables: tuple[str, ...], target_files_per_dir: int) -> dict:
        report: dict[str, dict] = {}
        default_par = self.spark.sparkContext.defaultParallelism
        for name in tables:
            path = self._path(name)
            if not os.path.exists(path):
                continue
            before = _parquet_file_counts(path)
            dirs: dict[str, int] = {}
            for rel in before:
                d = os.path.dirname(rel)
                dirs[d] = dirs.get(d, 0) + 1
            if not dirs or max(dirs.values()) <= target_files_per_dir:
                report[name] = {
                    "files_before": len(before),
                    "files_after": len(before),
                    "rewritten": False,
                }
                continue
            rows_before = sum(before.values())
            df = self._read(name)
            # partition layout comes from the DIRS actually on disk
            # (key= segments of the relative file paths), NOT the
            # configured partition_by map: compacting a plain-layout
            # store through a Pipeline built with n_buckets set must not
            # reference a missing bucket column, and compacting a
            # BUCKETED store through a Pipeline built with
            # n_buckets=None must not demote the bucket= dirs to a data
            # column (ADVICE r3)
            disk_cols: list[str] = []
            for rel in before:
                for seg in rel.split(os.sep)[:-1]:
                    if "=" in seg:
                        c = seg.split("=", 1)[0]
                        if c not in disk_cols:
                            disk_cols.append(c)
            cols = [c for c in disk_cols if c in df.columns]
            if cols:
                # hash on the partition columns: every dir's rows land
                # in exactly one task → one file per dir
                df = df.repartition(
                    max(1, min(default_par, len(dirs))), *cols
                )
            else:
                # unpartitioned dim: size by bytes (~128 MB per file)
                total_bytes = sum(
                    os.path.getsize(os.path.join(r, f))
                    for r, _, fs in os.walk(path)
                    for f in fs
                )
                df = df.repartition(
                    max(1, min(default_par, total_bytes // (128 << 20) + 1))
                )
            tmp = path + _TMP
            writer = df.write.mode("overwrite")
            if cols:
                writer = writer.partitionBy(*cols)
            writer.parquet(tmp)
            after = _parquet_file_counts(tmp)
            rows_after = sum(after.values())
            if rows_after != rows_before:
                shutil.rmtree(tmp)
                raise RuntimeError(
                    f"compact({name}): row count changed "
                    f"{rows_before} → {rows_after}; rewrite aborted, "
                    "original table left untouched"
                )
            _swap_dir(tmp, path)
            report[name] = {
                "files_before": len(before),
                "files_after": len(after),
                "rows": rows_after,
                "rewritten": True,
            }
        return report

    # convenience readers
    def nodes(self) -> DataFrame:
        return self._read("nodes")

    def edges(self) -> DataFrame:
        return self._read("edges")
