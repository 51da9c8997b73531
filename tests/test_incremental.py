"""Incremental re-indexing: only changed conversations re-extracted;
result identical to a full rebuild (reference: IndexingStrategy
full-vs-incremental semantics, src/core/indexing/IndexingStrategy.ts)."""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hikma_engine_spark.pipeline import Pipeline


def _digest(df) -> str:
    pdf = df.toPandas()
    pdf = pdf[sorted(pdf.columns)]
    rows = sorted(
        pdf.astype(str).apply(lambda r: "\x1f".join(r.values), axis=1).tolist()
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def _concat_like(corpus_pdf: pd.DataFrame, extra: pd.DataFrame) -> pd.DataFrame:
    """Concat with the extra frame's dtypes aligned to the corpus's
    (synth emits string[python] columns; hand-built test frames carry
    object dtype, and all-NA object columns trip the pandas
    concat-dtype FutureWarning — r4 verdict polish item)."""
    extra = extra.astype({c: corpus_pdf[c].dtype for c in extra.columns})
    return pd.concat([corpus_pdf, extra], ignore_index=True)


def _make_v2(corpus_pdf: pd.DataFrame) -> pd.DataFrame:
    """v2 = v1 + two appended turns on conv0000003 + one new conversation."""
    extra = pd.DataFrame(
        {
            "conv_id": ["conv0000003", "conv0000003", "convNEW0001", "convNEW0001"],
            "turn_idx": [9000, 9001, 0, 1],
            "role": ["user", "assistant", "user", "assistant"],
            "text": [
                "We should benchmark postgresql against duckdb.",
                "call:sql_runner compare pgsql and duckdb please.",
                "@erin is kafka better than redis here?",
                "kafka depends on zookeeper, but that is not in the gazetteer.",
            ],
            "tool": [None, None, None, None],
            "ts": pd.to_datetime(
                ["2025-06-01T00:00:00"] * 2 + ["2025-06-02T00:00:00"] * 2
            ),
        }
    )
    extra["turn_idx"] = extra["turn_idx"].astype("int32")
    return _concat_like(corpus_pdf, extra)


def test_incremental_matches_full_rebuild(spark, corpus_pdf, corpus_path, tmp_path):
    v2_path = str(tmp_path / "v2.parquet")
    _make_v2(corpus_pdf).to_parquet(
        v2_path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )

    # full rebuild on v2
    full_out = str(tmp_path / "full_v2")
    p_full = Pipeline(spark, v2_path, full_out, run_id="full-v2", n_buckets=64)
    p_full.run(resume=False)

    # v1 run, then incremental to v2
    incr_out = str(tmp_path / "incr")
    Pipeline(spark, corpus_path, incr_out, run_id="v1", n_buckets=64).run(resume=False)
    p_incr = Pipeline(spark, v2_path, incr_out, run_id="v2", n_buckets=64)
    res = p_incr.run_incremental()

    # only the touched conversations were re-extracted
    assert res.phase_stats["discover"]["changed_convs"] == 2

    assert _digest(p_incr.nodes()) == _digest(p_full.nodes())
    assert _digest(p_incr.edges()) == _digest(p_full.edges())


def test_incremental_canonical_drift_refreshes_untouched_buckets(
    spark, corpus_pdf, corpus_path, tmp_path
):
    """A new alias surface ('alic') merges with an existing cluster
    ('alice') and WINS the canonical (lexicographic min) — mention
    nodes for 'alice' across buckets the change never touched must get
    their canonical_id refreshed. Incremental must still equal a full
    rebuild byte-for-byte."""
    extra = pd.DataFrame(
        {
            "conv_id": ["convDRIFT01"],
            "turn_idx": [0],
            "role": ["user"],
            "text": ["ping @alic about the rollout."],
            "tool": [None],
            "ts": pd.to_datetime(["2025-07-01T00:00:00"]),
        }
    )
    extra["turn_idx"] = extra["turn_idx"].astype("int32")
    v3 = _concat_like(corpus_pdf, extra)
    v3_path = str(tmp_path / "v3.parquet")
    v3.to_parquet(
        v3_path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )

    full_out = str(tmp_path / "full_v3")
    p_full = Pipeline(spark, v3_path, full_out, run_id="full-v3", n_buckets=64)
    p_full.run(resume=False)

    incr_out = str(tmp_path / "incr_v3")
    Pipeline(spark, corpus_path, incr_out, run_id="v1", n_buckets=64).run(resume=False)
    p_incr = Pipeline(spark, v3_path, incr_out, run_id="v3", n_buckets=64)
    res = p_incr.run_incremental()
    assert res.phase_stats["discover"]["changed_convs"] == 1
    assert res.phase_stats["link"]["changed_surfaces"] >= 2  # alice + alic

    # canonical actually drifted
    alice_mentions = (
        p_incr.nodes()
        .filter("node_type = 'Mention'")
        .filter("properties['surface_norm'] = 'alice'")
        .select("canonical_id")
        .distinct()
        .collect()
    )
    assert {r["canonical_id"] for r in alice_mentions} == {"entity:alic"}

    assert _digest(p_incr.nodes()) == _digest(p_full.nodes())
    assert _digest(p_incr.edges()) == _digest(p_full.edges())


def test_incremental_noop_when_unchanged(spark, corpus_path, tmp_path):
    out = str(tmp_path / "noop")
    Pipeline(spark, corpus_path, out, run_id="base", n_buckets=64).run(resume=False)
    before_nodes = _digest(Pipeline(spark, corpus_path, out).nodes())
    p = Pipeline(spark, corpus_path, out, run_id="again", n_buckets=64)
    res = p.run_incremental()
    assert res.phase_stats["discover"]["changed_convs"] == 0
    assert _digest(p.nodes()) == before_nodes


def test_incremental_handles_deletions(spark, corpus_pdf, corpus_path, tmp_path):
    """Deleted conversations leave no orphan nodes/edges: the changed
    set is a FULL OUTER diff, so removal == full rebuild byte-for-byte
    (round-1 advice: left-join change detection missed deletions)."""
    convs = sorted(corpus_pdf.conv_id.unique())
    deleted = convs[2]
    v2 = corpus_pdf[corpus_pdf.conv_id != deleted].reset_index(drop=True)
    v2_path = str(tmp_path / "v2_del.parquet")
    v2.to_parquet(
        v2_path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )

    full_out = str(tmp_path / "full_del")
    p_full = Pipeline(spark, v2_path, full_out, run_id="full-del", n_buckets=64)
    p_full.run(resume=False)

    incr_out = str(tmp_path / "incr_del")
    Pipeline(spark, corpus_path, incr_out, run_id="v1", n_buckets=64).run(resume=False)
    p_incr = Pipeline(spark, v2_path, incr_out, run_id="v2", n_buckets=64)
    res = p_incr.run_incremental()
    assert res.phase_stats["discover"]["changed_convs"] == 1

    assert p_incr.nodes().filter(F.col("conv_id") == deleted).count() == 0
    assert p_incr.edges().filter(F.col("conv_id") == deleted).count() == 0
    assert _digest(p_incr.nodes()) == _digest(p_full.nodes())
    assert _digest(p_incr.edges()) == _digest(p_full.edges())


def test_incremental_never_collects_unbounded_tables(
    spark, corpus_pdf, corpus_path, tmp_path, monkeypatch
):
    """Scale guard: every driver collect() during run_incremental must
    be bounded — bucket-id lists (≤ n_buckets) or the build_links
    driver-twin surface list (≤ threshold+1). A regression that
    re-introduces a full links/mentions/changed-set collect trips the
    row bound."""
    # patch the RUNTIME DataFrame class (pyspark.sql.DataFrame is an
    # abstract base in Spark 4; live objects are classic.dataframe)
    df_cls = type(spark.range(1))

    out = str(tmp_path / "spy")
    Pipeline(spark, corpus_path, out, run_id="v1", n_buckets=64).run(resume=False)
    v2_path = str(tmp_path / "spy_v2.parquet")
    _make_v2(corpus_pdf).to_parquet(
        v2_path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )

    sizes: list[int] = []
    orig = df_cls.collect

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(df_cls, "collect", spy)
    p = Pipeline(spark, v2_path, out, run_id="v2", n_buckets=64)
    p.run_incremental()
    monkeypatch.setattr(df_cls, "collect", orig)
    assert sizes, "expected some bounded collects (bucket lists)"
    bound = 2_001  # build_links driver threshold + 1
    assert max(sizes) <= bound, f"unbounded driver collect: {sizes}"


def test_incremental_delta_mode_matches_full_rebuild(
    spark, corpus_pdf, corpus_path, tmp_path
):
    """Delta-driven incremental (the Iceberg snapshot-read emulation):
    the producer hands only the changed conversations' full row sets +
    an explicit deletion list; change detection is O(delta), result is
    byte-identical to a full rebuild of the new corpus state."""
    convs = sorted(corpus_pdf.conv_id.unique())
    modified, deleted = convs[4], convs[7]

    # v2 = v1 with `modified` gaining 2 turns, one new conv, `deleted` gone
    extra = pd.DataFrame(
        {
            "conv_id": [modified, modified, "convDELTA01", "convDELTA01"],
            "turn_idx": pd.array([7000, 7001, 0, 1], dtype="int32"),
            "role": ["user", "assistant", "user", "assistant"],
            "text": [
                "Maybe duckdb beats postgresql here?",
                "call:profiler says redis wins.",
                "@frank what about kafka?",
                "kafka is fine.",
            ],
            "tool": pd.array([None] * 4, dtype="object"),
            "ts": pd.to_datetime(["2025-08-01T00:00:00"] * 4),
        }
    )
    v2 = _concat_like(corpus_pdf[corpus_pdf.conv_id != deleted], extra)
    v2_path = str(tmp_path / "delta_v2.parquet")
    v2.to_parquet(
        v2_path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )
    # the delta: FULL new row sets of the changed/added convs ONLY
    delta = v2[v2.conv_id.isin([modified, "convDELTA01"])].reset_index(drop=True)
    delta_path = str(tmp_path / "delta_rows.parquet")
    delta.to_parquet(
        delta_path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )

    full_out = str(tmp_path / "delta_full")
    p_full = Pipeline(spark, v2_path, full_out, run_id="full", n_buckets=64)
    p_full.run(resume=False)

    incr_out = str(tmp_path / "delta_incr")
    Pipeline(spark, corpus_path, incr_out, run_id="v1", n_buckets=64).run(resume=False)
    p_incr = Pipeline(spark, v2_path, incr_out, run_id="v2", n_buckets=64)
    res = p_incr.run_incremental(
        delta_path=delta_path, deleted_conv_ids=(deleted,)
    )
    assert res.phase_stats["discover"]["mode"] == "delta"
    assert res.phase_stats["discover"]["changed_convs"] == 3  # mod + new + del

    assert p_incr.nodes().filter(F.col("conv_id") == deleted).count() == 0
    assert _digest(p_incr.nodes()) == _digest(p_full.nodes())
    assert _digest(p_incr.edges()) == _digest(p_full.edges())

    # ambiguous input: a conv in BOTH delta and deleted list is rejected
    import pytest as _pytest

    with _pytest.raises(ValueError, match="both delta_path and deleted"):
        p_incr.run_incremental(
            delta_path=delta_path, deleted_conv_ids=(modified,)
        )


def test_incremental_crash_retry_repairs(
    spark, corpus_pdf, corpus_path, tmp_path, monkeypatch
):
    """Crash-safety of the commit ordering (round-1 advice): a crash
    AFTER the edges rewrite but BEFORE nodes/links/dim commit leaves
    the old change-detection signal intact, so a plain retry re-detects
    the same delta and repairs everything — byte-identical to a full
    rebuild. A 'failed' state row is recorded for the crashed run."""
    import pytest as _pytest

    v2_path = str(tmp_path / "crash_v2.parquet")
    _make_v2(corpus_pdf).to_parquet(
        v2_path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )
    out = str(tmp_path / "crash")
    Pipeline(spark, corpus_path, out, run_id="v1", n_buckets=64).run(resume=False)

    orig = Pipeline._replace_partition_dirs

    def boom(self, tmp_name, final_name, rel_dirs):
        orig(self, tmp_name, final_name, rel_dirs)
        if final_name == "edges":
            raise RuntimeError("injected crash after edges commit")

    monkeypatch.setattr(Pipeline, "_replace_partition_dirs", boom)
    p_crash = Pipeline(spark, v2_path, out, run_id="crashed", n_buckets=64)
    with _pytest.raises(RuntimeError, match="injected crash"):
        p_crash.run_incremental()
    monkeypatch.setattr(Pipeline, "_replace_partition_dirs", orig)

    failed_rows = [
        r for r in p_crash.state.rows()
        if r["phase_name"] == "incremental" and r["status"] == "failed"
    ]
    assert failed_rows, "crashed run must record a failed state row"

    # retry: the old dim/links survived, so the delta is re-detected
    p_retry = Pipeline(spark, v2_path, out, run_id="retry", n_buckets=64)
    res = p_retry.run_incremental()
    assert res.phase_stats["discover"]["changed_convs"] == 2

    full_out = str(tmp_path / "crash_full")
    p_full = Pipeline(spark, v2_path, full_out, run_id="full", n_buckets=64)
    p_full.run(resume=False)
    assert _digest(p_retry.nodes()) == _digest(p_full.nodes())
    assert _digest(p_retry.edges()) == _digest(p_full.edges())


def test_incremental_retry_after_failed_final_swap(
    spark, tiny_path, tmp_path, monkeypatch
):
    """The last commit step moves conversations_incr into place. If that
    rename fails, the store must keep a recoverable conversations dim:
    the retry re-detects the same delta and ends digest-equal to a full
    rebuild (the old dir was parked, not deleted, before the rename)."""
    import os

    import pytest as _pytest

    v1 = pd.read_parquet(tiny_path)
    extra = v1[v1.conv_id == "c1"].tail(1).copy()
    extra["turn_idx"] = extra["turn_idx"] + 1
    extra["text"] = "postgres depends on redis now"
    v2_path = str(tmp_path / "swap_v2.parquet")
    _concat_like(v1, extra).to_parquet(
        v2_path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )
    out = str(tmp_path / "swap_crash")
    Pipeline(spark, tiny_path, out, run_id="v1", n_buckets=8).run(resume=False)

    real_replace = os.replace

    def failing_replace(src, dst):
        if (
            os.path.basename(src) == "conversations_incr"
            and os.path.basename(dst) == "conversations"
        ):
            raise OSError("injected failure moving conversations_incr")
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", failing_replace)
    with _pytest.raises(OSError, match="injected failure"):
        Pipeline(spark, v2_path, out, run_id="crashed", n_buckets=8).run_incremental()
    monkeypatch.setattr(os, "replace", real_replace)

    p_retry = Pipeline(spark, v2_path, out, run_id="retry", n_buckets=8)
    res = p_retry.run_incremental()
    assert res.phase_stats["discover"]["changed_convs"] == 1

    full_out = str(tmp_path / "swap_full")
    p_full = Pipeline(spark, v2_path, full_out, run_id="full", n_buckets=8)
    p_full.run(resume=False)
    for table in ("nodes", "edges", "conversations"):
        assert _digest(p_retry._read(table)) == _digest(p_full._read(table))


def test_incremental_retry_after_failed_partition_move(
    spark, tiny_path, tmp_path, monkeypatch
):
    """The copy-on-write commit moves each rewritten bucket dir into
    place. If moving one mentions bucket fails, the unchanged
    conversations in that bucket must survive: the retry re-detects the
    same delta and ends digest-equal to a full rebuild (the old bucket
    dir was parked, not deleted, before the move)."""
    import os

    import pytest as _pytest

    v1 = pd.read_parquet(tiny_path)
    extra = v1[v1.conv_id == "c1"].tail(1).copy()
    extra["turn_idx"] = extra["turn_idx"] + 1
    extra["text"] = "postgres depends on redis now"
    v2_path = str(tmp_path / "part_v2.parquet")
    _concat_like(v1, extra).to_parquet(
        v2_path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )
    # one bucket: the changed c1 shares it with the unchanged c2
    out = str(tmp_path / "part_crash")
    Pipeline(spark, tiny_path, out, run_id="v1", n_buckets=1).run(resume=False)

    real_replace = os.replace

    def failing_replace(src, dst):
        if os.path.basename(os.path.dirname(src)) == "mentions_incr":
            raise OSError("injected failure moving a mentions bucket")
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", failing_replace)
    with _pytest.raises(OSError, match="injected failure"):
        Pipeline(spark, v2_path, out, run_id="crashed", n_buckets=1).run_incremental()
    monkeypatch.setattr(os, "replace", real_replace)

    p_retry = Pipeline(spark, v2_path, out, run_id="retry", n_buckets=1)
    res = p_retry.run_incremental()
    assert res.phase_stats["discover"]["changed_convs"] == 1

    full_out = str(tmp_path / "part_full")
    p_full = Pipeline(spark, v2_path, full_out, run_id="full", n_buckets=1)
    p_full.run(resume=False)
    for table in ("mentions", "nodes", "edges", "conversations"):
        assert _digest(p_retry._read(table)) == _digest(p_full._read(table))


def test_deleted_without_delta_raises(spark, corpus_path, tmp_path):
    """ADVICE r2: an explicit deletion list is only honored by delta
    mode — content-hash mode must reject it loudly, not drop it."""
    import pytest

    out = str(tmp_path / "del_no_delta")
    p = Pipeline(spark, corpus_path, out, run_id="t", n_buckets=64)
    with pytest.raises(ValueError, match="deleted_conv_ids requires delta_path"):
        p.run_incremental(deleted_conv_ids=("conv0000003",))


@pytest.mark.parametrize("mode", ["content_hash", "delta"])
def test_delta_mode_duplicate_keys_rejected(spark, tiny_path, tmp_path, mode):
    """ADVICE r2: input with duplicate (conv_id, turn_idx) rows — e.g. a
    producer that appended instead of replacing — must fail the run in
    either change-detection mode and leave the store as it was, not
    silently corrupt it."""
    out = str(tmp_path / "dup")
    Pipeline(spark, tiny_path, out, run_id="base", n_buckets=1).run(resume=False)
    tables = ("conversations", "mentions", "links", "same_as", "nodes", "edges")
    base = Pipeline(spark, tiny_path, out, n_buckets=1)
    before = {t: _digest(base._read(t)) for t in tables}

    v1 = pd.read_parquet(tiny_path)
    c2 = v1[v1.conv_id == "c2"]
    bad = pd.concat([v1, c2.iloc[[0]]], ignore_index=True)  # dup c2 turn 0
    if mode == "delta":
        bad = bad[bad.conv_id == "c2"]
    bad_path = str(tmp_path / "bad.parquet")
    bad.to_parquet(
        bad_path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )
    if mode == "delta":
        p = Pipeline(spark, tiny_path, out, run_id="incr", n_buckets=1)
        kwargs = {"delta_path": bad_path}
    else:
        p = Pipeline(spark, bad_path, out, run_id="incr", n_buckets=1)
        kwargs = {}
    with pytest.raises(ValueError, match="duplicate \\(conv_id, turn_idx\\)"):
        p.run_incremental(**kwargs)
    assert {t: _digest(p._read(t)) for t in tables} == before


def test_delta_mode_reindexes_role_tool_ts_only_change(spark, tiny_path, tmp_path):
    """The content hash covers turn_idx and text only, but role, tool and
    ts feed Turn properties, INVOKES edges, Tool nodes and the dim: a
    delta that re-sends a conversation with only those changed must
    still re-index it and end digest-equal to a full rebuild."""
    v2 = pd.read_parquet(tiny_path)
    turn = (v2.conv_id == "c2") & (v2.turn_idx == 1)
    v2.loc[turn, ["role", "tool"]] = ["tool", "formatter"]
    v2.loc[turn, "ts"] = pd.Timestamp("2025-03-01T00:00:00")
    v2_path = str(tmp_path / "meta_v2.parquet")
    v2.to_parquet(
        v2_path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )
    delta_path = str(tmp_path / "meta_delta.parquet")
    v2[v2.conv_id == "c2"].to_parquet(
        delta_path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )

    out = str(tmp_path / "meta_incr")
    Pipeline(spark, tiny_path, out, run_id="v1", n_buckets=1).run(resume=False)
    p_incr = Pipeline(spark, v2_path, out, run_id="v2", n_buckets=1)
    res = p_incr.run_incremental(delta_path=delta_path)
    assert res.phase_stats["discover"]["changed_convs"] == 1

    p_full = Pipeline(spark, v2_path, str(tmp_path / "meta_full"), n_buckets=1)
    p_full.run(resume=False)
    assert p_full.nodes().filter(F.col("id") == "tool:formatter").count() == 1
    for table in ("conversations", "mentions", "nodes", "edges"):
        assert _digest(p_incr._read(table)) == _digest(p_full._read(table))


def test_compact_preserves_content(spark, corpus_pdf, corpus_path, tmp_path):
    """After an incremental (bucket-surgical COW leaves extra files),
    compact() merges each dir back to one file — byte-identical
    content, fewer files, and reruns are a no-op."""
    import os

    v2_path = str(tmp_path / "v2c.parquet")
    _make_v2(corpus_pdf).to_parquet(
        v2_path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )
    out = str(tmp_path / "compact_kg")
    Pipeline(spark, corpus_path, out, run_id="v1", n_buckets=16).run(resume=False)
    p = Pipeline(spark, v2_path, out, run_id="v2", n_buckets=16)
    p.run_incremental()

    def n_files(name):
        return sum(
            1
            for r, _, fs in os.walk(os.path.join(out, name))
            for f in fs
            if f.endswith(".parquet")
        )

    digests = {t: _digest(p._read(t)) for t in ("nodes", "edges", "mentions")}
    before = {t: n_files(t) for t in ("nodes", "edges", "mentions")}
    report = p.compact()
    assert any(v.get("rewritten") for v in report.values())
    for t in ("nodes", "edges", "mentions"):
        assert _digest(p._read(t)) == digests[t]
        assert n_files(t) <= before[t]
    # every partition dir is now at one file; rerun is a no-op
    report2 = p.compact()
    assert not any(v.get("rewritten") for v in report2.values())


def test_compact_plain_layout_with_bucket_flag(spark, corpus_path, tmp_path):
    """compact() follows the on-disk layout, not the configured flag:
    a plain (unbucketed) store compacted through a Pipeline constructed
    with n_buckets set must not reference the absent bucket column."""
    out = str(tmp_path / "plain_kg")
    Pipeline(spark, corpus_path, out, run_id="plain").run(resume=False)
    p = Pipeline(spark, corpus_path, out, run_id="maint", n_buckets=64)
    before = _digest(p._read("nodes"))
    p.compact()
    assert _digest(p._read("nodes")) == before


def test_compact_bucketed_layout_with_plain_flag(spark, corpus_path, tmp_path):
    """ADVICE r3: the inverse direction — a BUCKETED store compacted
    through a Pipeline constructed with n_buckets=None must preserve
    the bucket= dirs (layout derived from disk, not the configured
    map), keeping the bucket-surgical incremental rewrite path alive."""
    import os

    out = str(tmp_path / "bucketed_kg")
    Pipeline(spark, corpus_path, out, run_id="v1", n_buckets=16).run(resume=False)

    def bucket_dirs(name):
        return {
            seg
            for r, _dirs, fs in os.walk(os.path.join(out, name))
            for f in fs
            if f.endswith(".parquet")
            for seg in r.split(os.sep)
            if seg.startswith("bucket=")
        }

    p = Pipeline(spark, corpus_path, out, run_id="maint")  # n_buckets=None
    assert bucket_dirs("nodes"), "precondition: store is bucketed"
    layouts = {t: bucket_dirs(t) for t in ("nodes", "edges", "mentions")}
    digests = {t: _digest(p._read(t)) for t in ("nodes", "edges", "mentions")}
    # force a rewrite regardless of current fragmentation
    p.compact(target_files_per_dir=0)
    for t in ("nodes", "edges", "mentions"):
        assert _digest(p._read(t)) == digests[t]
        assert bucket_dirs(t) == layouts[t], f"{t} lost its bucket layout"


def test_compact_cleans_stale_old_dir(spark, corpus_path, tmp_path):
    """Crash-recovery of the round-4 three-step swap: a leftover
    .old dir from a crashed prior compact is cleaned on the
    next run, and the table's content is untouched."""
    import os
    import shutil

    out = str(tmp_path / "swap_kg")
    Pipeline(spark, corpus_path, out, run_id="v1").run(resume=False)
    p = Pipeline(spark, corpus_path, out, run_id="maint")
    before = _digest(p._read("nodes"))
    stale = os.path.join(out, "nodes.old")
    os.makedirs(stale)
    with open(os.path.join(stale, "junk.parquet"), "w") as fh:
        fh.write("not parquet")
    p.compact(target_files_per_dir=0)
    assert not os.path.exists(stale)
    assert not os.path.exists(os.path.join(out, "nodes.tmp"))
    assert _digest(p._read("nodes")) == before


def test_compact_sweeps_stale_dirs_without_rewrite(spark, corpus_path, tmp_path):
    """r4 advice 5: stale .old/.tmp are swept at
    compact() start for EVERY table, even ones that never re-cross the
    fragmentation threshold (threshold left high → no rewrite)."""
    import os

    out = str(tmp_path / "sweep_kg")
    Pipeline(spark, corpus_path, out, run_id="v1").run(resume=False)
    p = Pipeline(spark, corpus_path, out, run_id="maint")
    before = _digest(p._read("nodes"))
    for suffix in (".old", ".tmp"):
        d = os.path.join(out, "nodes" + suffix)
        os.makedirs(d)
        with open(os.path.join(d, "junk.parquet"), "w") as fh:
            fh.write("not parquet")
    report = p.compact(target_files_per_dir=10_000)
    assert not report["nodes"]["rewritten"]
    assert not os.path.exists(os.path.join(out, "nodes.old"))
    assert not os.path.exists(os.path.join(out, "nodes.tmp"))
    assert _digest(p._read("nodes")) == before


def test_compact_restores_table_after_midswap_crash(spark, corpus_path, tmp_path):
    """r4 advice 5: a crash BETWEEN the two os.replace calls leaves the
    table path absent and .old holding the data; the next
    compact() restores it automatically (no manual recovery)."""
    import os

    out = str(tmp_path / "midswap_kg")
    Pipeline(spark, corpus_path, out, run_id="v1").run(resume=False)
    p = Pipeline(spark, corpus_path, out, run_id="maint")
    before = _digest(p._read("nodes"))
    # simulate the mid-swap crash point: table parked at .old
    os.replace(os.path.join(out, "nodes"), os.path.join(out, "nodes.old"))
    p.compact(target_files_per_dir=10_000)
    assert os.path.exists(os.path.join(out, "nodes"))
    assert not os.path.exists(os.path.join(out, "nodes.old"))
    assert _digest(p._read("nodes")) == before
