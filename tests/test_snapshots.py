"""Capability-parity tests for the version-manifest table format
(sources/snapshots.py): the ACID-ish semantics Delta would provide, on
plain parquet + atomic pointer swaps."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from energy_datalake_solution_spark.sources.snapshots import (
    current_version,
    snapshot_append,
    snapshot_read,
    snapshot_rollback,
    snapshot_upsert,
    snapshot_vacuum,
    snapshot_write,
)


def _df(spark, lo, hi, val):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(val).alias("v")
    )


def test_write_read_roundtrip_and_versions(spark, tmp_path):
    t = tmp_path / "t"
    assert snapshot_write(_df(spark, 0, 10, "a"), t) == 1
    assert snapshot_write(_df(spark, 0, 5, "b"), t) == 2
    assert current_version(t) == 2
    assert snapshot_read(spark, t).count() == 5          # latest = full replace
    assert snapshot_read(spark, t, version=1).count() == 10  # time travel


def test_append_accumulates_without_rewrite(spark, tmp_path):
    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 10, "a"), t)
    snapshot_append(_df(spark, 10, 15, "a"), t)
    assert snapshot_read(spark, t).count() == 15
    assert snapshot_read(spark, t, version=1).count() == 10


def test_upsert_replaces_matched_keys_only(spark, tmp_path):
    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 10, "old"), t)
    snapshot_upsert(spark, _df(spark, 5, 12, "new"), t, ["k"])
    rows = {r.k: r.v for r in snapshot_read(spark, t).collect()}
    assert len(rows) == 12
    assert all(rows[k] == "old" for k in range(5))
    assert all(rows[k] == "new" for k in range(5, 12))


def test_reader_isolation_across_concurrent_commit(spark, tmp_path):
    """A reader that resolved version 1 keeps its snapshot even after a
    full-replace commit lands: the old files still exist and the old
    manifest still lists exactly them."""
    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 10, "a"), t)
    reader = snapshot_read(spark, t)      # resolves v1's file list NOW
    snapshot_write(_df(spark, 0, 3, "b"), t)  # concurrent full replace
    assert reader.count() == 10           # executed AFTER the new commit
    assert snapshot_read(spark, t).count() == 3


def test_rollback_is_metadata_only(spark, tmp_path):
    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 10, "a"), t)
    snapshot_write(_df(spark, 0, 3, "b"), t)
    snapshot_rollback(t, 1)
    assert current_version(t) == 1
    assert snapshot_read(spark, t).count() == 10
    with pytest.raises(FileNotFoundError):
        snapshot_rollback(t, 99)


def test_vacuum_keeps_referenced_files(spark, tmp_path):
    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 10, "a"), t)
    snapshot_write(_df(spark, 0, 3, "b"), t)
    snapshot_append(_df(spark, 3, 6, "b"), t)  # v3 references v2's files too
    deleted = snapshot_vacuum(t, keep_versions=2)
    assert deleted  # v1's files are unreferenced by v2/v3 -> removed
    # retained versions still fully readable
    assert snapshot_read(spark, t, version=2).count() == 3
    assert snapshot_read(spark, t).count() == 6
    with pytest.raises(FileNotFoundError):
        snapshot_read(spark, t, version=1)


def test_stream_sink_exactly_once_across_replay(spark, tmp_path):
    """Two micro-batches stream into the table as two versions; a replayed
    batch_id (the crash-between-commit-and-checkpoint case) must NOT
    create a third version or duplicate rows."""
    from energy_datalake_solution_spark.sources.snapshots import (
        last_txn,
        stream_snapshot_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    _df(spark, 0, 10, "a").coalesce(1).write.json(str(src / "b0"))
    _df(spark, 10, 15, "a").coalesce(1).write.json(str(src / "b1"))
    stream = (
        spark.readStream.schema("k long, v string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src / "*"))
    )
    t = tmp_path / "table"
    ckpt = tmp_path / "ckpt"
    q = stream_snapshot_sink(stream, t, ckpt)
    q.awaitTermination(120)
    assert current_version(t) == 2
    assert snapshot_read(spark, t).count() == 15
    # txn stamps are namespaced by the sink's app id (the checkpoint path)
    app = str(ckpt)
    committed = last_txn(t, txn_app=app)
    assert committed >= 0
    assert last_txn(t) == -1  # the un-namespaced lineage has no stamps
    from energy_datalake_solution_spark.sources.snapshots import snapshot_append_once

    # post-crash replay: the SAME (app, batch_id) runs through the sink's
    # real commit path and must be a no-op
    before = current_version(t)
    snapshot_append_once(_df(spark, 10, 15, "a"), t, txn=committed, txn_app=app)
    assert current_version(t) == before
    assert snapshot_read(spark, t).count() == 15
    # a genuinely NEW batch id still commits
    snapshot_append_once(_df(spark, 15, 16, "a"), t, txn=committed + 1, txn_app=app)
    assert snapshot_read(spark, t).count() == 16


def test_txn_namespaces_isolate_writer_lineages(spark, tmp_path):
    """Two writer lineages (different app ids) interleave appends with
    OVERLAPPING batch_ids; neither may skip the other's batches — the bug
    a global txn comparison has. A restarted query with a fresh checkpoint
    is the same scenario: new namespace, batch 0 must commit."""
    from energy_datalake_solution_spark.sources.snapshots import (
        last_txn,
        snapshot_append_once,
    )

    t = tmp_path / "t"
    snapshot_append_once(_df(spark, 0, 5, "x"), t, txn=0, txn_app="ckptA")
    snapshot_append_once(_df(spark, 5, 9, "y"), t, txn=0, txn_app="ckptB")  # same batch_id!
    assert snapshot_read(spark, t).count() == 9  # B's batch 0 NOT dropped
    snapshot_append_once(_df(spark, 9, 12, "x"), t, txn=1, txn_app="ckptA")
    assert snapshot_read(spark, t).count() == 12
    # replays stay idempotent WITHIN each namespace
    snapshot_append_once(_df(spark, 5, 9, "y"), t, txn=0, txn_app="ckptB")
    snapshot_append_once(_df(spark, 9, 12, "x"), t, txn=1, txn_app="ckptA")
    assert snapshot_read(spark, t).count() == 12
    assert last_txn(t, txn_app="ckptA") == 1
    assert last_txn(t, txn_app="ckptB") == 0
    # fresh-checkpoint restart: a brand-new namespace starts from batch 0
    snapshot_append_once(_df(spark, 12, 14, "x"), t, txn=0, txn_app="ckptA-restarted")
    assert snapshot_read(spark, t).count() == 14


def test_vacuum_after_shorter_retention_does_not_fail(spark, tmp_path):
    """An earlier vacuum with a small retention deletes part of a later
    vacuum's keep range; the later vacuum must skip the gaps instead of
    raising FileNotFoundError."""
    t = tmp_path / "t"
    for i in range(5):
        snapshot_append(_df(spark, i * 10, (i + 1) * 10, "a").coalesce(1), t)
    snapshot_vacuum(t, keep_versions=1)        # only v5's manifest survives
    deleted = snapshot_vacuum(t, keep_versions=4)  # range [2, 5] has gaps
    assert deleted == []                        # nothing new to delete
    assert snapshot_read(spark, t).count() == 50


def test_pointer_never_regresses_behind_later_writer(spark, tmp_path):
    """A delayed writer that publishes its manifest while the on-disk
    pointer is ALREADY AHEAD (a later writer won the race between this
    writer's manifest link and its pointer swap) must not swap the pointer
    backwards — and must RAISE, not report the lost race as success (a
    quiet return would advance a streaming checkpoint over rows that sit
    on an unreachable orphan branch)."""
    import os

    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 5, "a"), t)  # v1
    p = S._table(t)
    files = S._write_files(_df(spark, 0, 2, "slow"), p)
    # a later writer advanced the pointer to 5 while the slow writer was
    # stalled between allocation and its swap
    (p / "_latest.tmp").write_text("5")
    os.replace(p / "_latest.tmp", p / "_latest")
    with pytest.raises(RuntimeError, match="orphan"):
        S._commit(p, files, parent=1)  # allocates v2 — behind the pointer
    assert S.current_version(t) == 5  # pointer untouched: no regression
    # the orphan manifest is still readable by explicit version (forensics)
    assert snapshot_read(spark, t, version=2).count() == 2


def test_txn_protection_survives_vacuum_with_interleaved_lineages(spark, tmp_path):
    """Exactly-once must hold after vacuum even when another app's commit
    sits between this app's last stamp and the tail: the per-app txn map
    is carried forward into every manifest, so replay detection reads the
    LATEST manifest and never depends on vacuumed ancestors."""
    from energy_datalake_solution_spark.sources.snapshots import (
        last_txn,
        snapshot_append_once,
    )

    t = tmp_path / "t"
    snapshot_append_once(_df(spark, 0, 5, "a"), t, txn=5, txn_app="A")   # v1
    snapshot_append_once(_df(spark, 5, 8, "b"), t, txn=2, txn_app="B")   # v2
    snapshot_vacuum(t, keep_versions=1)  # v1's manifest (A's stamp) deleted
    assert last_txn(t, txn_app="A") == 5  # carried forward, not lost
    assert last_txn(t, txn_app="B") == 2
    # the crash replay of A's batch 5 must STILL be a no-op
    before = current_version(t)
    snapshot_append_once(_df(spark, 0, 5, "a"), t, txn=5, txn_app="A")
    assert current_version(t) == before
    assert snapshot_read(spark, t).count() == 8  # no duplicate rows
    # a txn-less commit (compaction) must also carry the map forward
    from energy_datalake_solution_spark.sources.snapshots import snapshot_compact

    snapshot_compact(spark, t, target_files=1)
    snapshot_vacuum(t, keep_versions=1)
    assert last_txn(t, txn_app="A") == 5
    assert last_txn(t, txn_app="B") == 2


def test_vacuum_ignores_leftover_manifest_tmp_files(spark, tmp_path):
    """A writer hard-killed between tmp write and publish leaves
    _manifests/v<N>.<hex>.tmp; vacuum must skip it, not crash parsing."""
    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 5, "a"), t)
    snapshot_write(_df(spark, 0, 3, "b"), t)
    (t / "_manifests" / "v7.deadbeef.tmp").write_text("{}")
    deleted = snapshot_vacuum(t, keep_versions=1)
    assert deleted  # v1's files reclaimed despite the junk tmp file
    assert snapshot_read(spark, t).count() == 3


def test_write_after_rollback_allocates_past_orphans(spark, tmp_path):
    """Rollback leaves the later manifests on disk; the next commit must
    allocate ABOVE them instead of colliding (the brick a parent+1
    allocator hits)."""
    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 10, "a"), t)
    snapshot_write(_df(spark, 0, 3, "b"), t)
    snapshot_rollback(t, 1)
    v = snapshot_write(_df(spark, 0, 7, "c"), t)
    assert v == 3  # v2 is an orphan branch, not a blocker
    assert snapshot_read(spark, t).count() == 7
    assert snapshot_read(spark, t, version=1).count() == 10  # history intact


def test_last_txn_survives_vacuumed_ancestry(spark, tmp_path):
    """txn-less commits stacked above vacuumed history must not crash the
    txn walk (the streaming sink calls it on every micro-batch)."""
    from energy_datalake_solution_spark.sources.snapshots import last_txn

    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 5, "a"), t)       # v1, txn None
    snapshot_write(_df(spark, 0, 6, "b"), t)       # v2, txn None
    snapshot_vacuum(t, keep_versions=1)            # v1's manifest deleted
    assert last_txn(t) == -1                       # walk ends cleanly


def test_commit_collision_raises_not_clobbers(spark, tmp_path, monkeypatch):
    """If the exact next version appears between allocation and publish
    (a true concurrent writer), the loser must RAISE — never silently
    overwrite the winner's manifest. The race window is simulated by
    pinning the loser's allocation scan to a stale view while the winner's
    manifest lands."""
    import json

    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 5, "a"), t)
    p = S._table(t)
    files = S._write_files(_df(spark, 0, 2, "b"), p)
    winner = S._manifest_path(p, 2)
    winner.write_text(json.dumps({"version": 2, "parent": 1, "files": [], "txn": None}))
    monkeypatch.setattr(S, "_max_manifest_version", lambda _p: 1)  # stale scan
    with pytest.raises(RuntimeError, match="concurrent writer"):
        S._commit(p, files, parent=1)
    # the winner's manifest is untouched (no clobber)
    assert json.loads(winner.read_text())["files"] == []
    # and without the stale view, the loser retries cleanly past the winner
    monkeypatch.undo()
    assert S._commit(p, files, parent=S.current_version(p)) == 3


def test_stats_commit_prunes_files_and_loses_nothing(spark, tmp_path):
    """A range-partitioned stats commit must let a keyed read touch only
    the overlapping files, and the pruned read must equal the brute-force
    filter over the full snapshot."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_files,
        snapshot_read,
        snapshot_write,
    )

    t = tmp_path / "t"
    df = spark.range(10_000).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    snapshot_write(df, t, stats_cols=["k"], n_files=8)
    all_files = snapshot_files(t, [{"k": (0, 10_000)}])
    assert len(all_files) == 8
    few = snapshot_files(t, [{"k": (2_000, 2_100)}])
    assert 1 <= len(few) <= 2  # disjoint ranges: the window spans <=2 files
    got = snapshot_read(spark, t, where=[{"k": (2_000, 2_100)}])
    expected = snapshot_read(spark, t).where("k BETWEEN 2000 AND 2100")
    assert got.count() == expected.count() == 101
    assert got.exceptAll(expected).count() == 0


def test_stats_missing_column_keeps_files(spark, tmp_path):
    """Files without stats for the queried column must never be pruned
    (safety over selectivity) — a stats-less commit still answers keyed
    reads correctly."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_files,
        snapshot_read,
    )

    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 100, "a"), t)  # plain commit: no stats
    files = snapshot_files(t, [{"k": (5, 10)}])
    m_files = snapshot_files(t, [{"k": (-99, -90)}])
    assert files == m_files  # nothing pruned either way
    assert snapshot_read(spark, t, where=[{"k": (5, 10)}]).count() == 6


def test_compaction_shrinks_files_preserves_rows_and_history(spark, tmp_path):
    """Many small appended files compact into one; contents identical,
    the pre-compaction version still time-travels, and a stats compaction
    restores key locality for pruned reads."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_compact,
        snapshot_files,
    )

    t = tmp_path / "t"
    for i in range(6):  # simulated micro-batch appends: 6 small files
        snapshot_append(_df(spark, i * 10, (i + 1) * 10, "a").coalesce(1), t)
    v_before = current_version(t)
    files_before = len(snapshot_files(t, [{"k": (-1, 999)}]))
    assert files_before == 6
    v = snapshot_compact(spark, t, target_files=2, stats_cols=["k"])
    assert v == v_before + 1
    assert len(snapshot_files(t, [{"k": (-1, 999)}])) == 2
    # identical contents
    now = snapshot_read(spark, t)
    old = snapshot_read(spark, t, version=v_before)
    assert now.count() == old.count() == 60
    assert now.exceptAll(old).count() == 0
    # re-clustering: a narrow keyed read touches ONE of the two files
    assert len(snapshot_files(t, [{"k": (5, 8)}])) == 1


def test_manifest_row_count_answers_count_star(spark, tmp_path):
    """COUNT(*) from the manifest alone: a stats commit records per-file
    footer row counts, so the count needs no scan; appends with stats
    keep it current; a stats-less commit honestly returns None."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_append,
        snapshot_row_count,
        snapshot_write,
    )

    t = tmp_path / "t"
    df = spark.range(5_000).select(F.col("id").alias("k"), (F.col("id") % 3).alias("v"))
    snapshot_write(df, t, stats_cols=["k"], n_files=4)
    assert snapshot_row_count(t) == 5_000
    # batches share the table's column types (the widening gate now
    # REJECTS an incompatible string-v batch instead of storing it)
    dfn = spark.range(250).select(F.col("id").alias("k"), (F.col("id") % 3).alias("v"))
    snapshot_append(dfn, t, stats_cols=["k"])
    assert snapshot_row_count(t) == 5_250
    assert snapshot_row_count(t, version=1) == 5_000  # time-travel count
    # a plain append (no stats) makes the metadata answer unavailable
    snapshot_append(dfn.limit(10), t)
    assert snapshot_row_count(t) is None
    assert snapshot_read(spark, t).count() == 5_260  # fallback still right


def test_legacy_txn_stamp_survives_map_carrying_commits(spark, tmp_path):
    """Upgrade path: a table whose newest manifests predate the txns map
    must not lose replay protection when map-carrying commits land on
    top. The parent's own legacy stamp folds into the first new map, and
    a legacy stamp for an app the map never saw falls through to the
    chain walk."""
    import json

    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 5, "a"), t)  # v1
    # hand-craft v1 as a LEGACY manifest: per-commit stamp, no txns map
    m1 = S._manifest_path(t, 1)
    m = json.loads(m1.read_text())
    m["txn"], m["txn_app"] = 7, "A"
    m.pop("txns", None)
    m1.write_text(json.dumps(m))
    assert S.last_txn(t, txn_app="A") == 7  # chain walk finds it
    # a NEW-code commit by app B stacks a txns map on top
    S.snapshot_append(_df(spark, 5, 8, "b"), t, txn=3, txn_app="B")
    assert S.last_txn(t, txn_app="B") == 3
    # A's legacy stamp was folded into the map — still visible
    assert S.last_txn(t, txn_app="A") == 7
    # the replay of A's batch 7 stays a no-op
    from energy_datalake_solution_spark.sources.snapshots import snapshot_append_once

    before = current_version(t)
    snapshot_append_once(_df(spark, 0, 5, "a"), t, txn=7, txn_app="A")
    assert current_version(t) == before


def test_row_count_on_empty_table_raises_descriptively(tmp_path):
    from energy_datalake_solution_spark.sources.snapshots import (
        _table,
        snapshot_row_count,
    )

    t = tmp_path / "t"
    _table(t)  # dirs exist, nothing committed
    with pytest.raises(FileNotFoundError, match="no committed version"):
        snapshot_row_count(t)


def test_truncated_unmapped_table_reads_typed_empty(spark, tmp_path):
    """A truncate commits a version listing no files, and an unmapped
    table keeps its schema only in file footers. The truncate records
    the reader schema it has at hand (the widened types map, else the
    footer's), so the empty tip reads as a typed empty frame through
    repeated truncates and after vacuum has removed every version that
    lists files."""
    from energy_datalake_solution_spark.sources.snapshots import snapshot_truncate

    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 5, "a").withColumn("k", F.col("k").cast("int")), t)
    snapshot_append(spark.createDataFrame([(2**40, "w")], "k long, v string"), t)
    before = snapshot_read(spark, t).schema
    snapshot_truncate(t)
    snapshot_truncate(t)
    out = snapshot_read(spark, t)
    assert out.schema == before
    assert out.schema["k"].dataType.simpleString() == "bigint"
    assert out.count() == 0
    snapshot_vacuum(t, keep_versions=1)
    out = snapshot_read(spark, t)
    assert out.schema == before
    assert out.count() == 0


def test_purged_empty_unmapped_table_reads_typed_empty(spark, tmp_path):
    """A purge that drops files whose every row a deletion vector hides
    also commits a version listing no files; like a truncate it records
    the reader schema, so the empty tip stays readable after vacuum."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_delete_range_mor,
        snapshot_purge_dv,
    )

    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 5, "a").coalesce(1), t)
    before = snapshot_read(spark, t).schema
    snapshot_delete_range_mor(spark, t, "k", 0, 10)
    snapshot_purge_dv(spark, t)
    snapshot_vacuum(t, keep_versions=1)
    out = snapshot_read(spark, t)
    assert out.schema == before
    assert out.count() == 0


def test_schema_evolution_read_across_appends(spark, tmp_path):
    """Additive schema evolution: a later append carries an extra column;
    a merge_schema read surfaces it (NULL on pre-evolution rows), the
    default read still works on the original columns, and time travel to
    the pre-evolution version sees the original schema."""
    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 5, "a"), t)  # schema (k, v)
    snapshot_append(
        _df(spark, 5, 8, "b").withColumn("extra", F.col("k") * 10), t
    )
    evolved = snapshot_read(spark, t, merge_schema=True)
    assert set(evolved.columns) == {"k", "v", "extra"}
    rows = {r.k: r.extra for r in evolved.collect()}
    assert rows[6] == 60           # new rows carry the new column
    assert rows[0] is None         # old files read NULL for it
    assert evolved.count() == 8
    # time travel to v1: the pre-evolution schema, no phantom column
    v1 = snapshot_read(spark, t, version=1, merge_schema=True)
    assert set(v1.columns) == {"k", "v"}


def test_upsert_with_key_stats_rewrites_only_touched_files(spark, tmp_path):
    """On a table whose manifest carries key stats, a narrow-keyed upsert
    must rewrite only the files whose range can contain batch keys; every
    other file is carried into the new manifest byte-identical, results
    equal the full-rewrite semantics, and stats survive for ALL files so
    the next upsert prunes too."""
    import os

    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        snapshot_write,
    )

    t = tmp_path / "t"
    base = spark.range(0, 400).select(
        F.col("id").alias("k"), F.lit("old").alias("v")
    )
    snapshot_write(base, t, stats_cols=["k"], n_files=8)
    m1 = _read_manifest(t, current_version(t))
    assert len(m1["files"]) >= 8

    batch = spark.createDataFrame(
        [(k, "new") for k in range(100, 120)], "k long, v string"
    )
    mtimes_before = {
        f: os.path.getmtime(t / f) for f in m1["files"]
    }
    snapshot_upsert(spark, batch, t, ["k"])
    m2 = _read_manifest(t, current_version(t))

    carried = set(m1["files"]) & set(m2["files"])
    rewritten = set(m1["files"]) - set(m2["files"])
    # 20 contiguous keys of 400 over 8 ranged files: at most 2 old files
    # may be dropped from the manifest; the rest carry over untouched
    assert len(rewritten) <= 2, sorted(rewritten)
    assert len(carried) >= 6
    for f in carried:
        assert os.path.getmtime(t / f) == mtimes_before[f]  # byte-identical

    got = {
        (r.k, r.v) for r in snapshot_read(spark, t).collect()
    }
    expect = {(k, "new" if 100 <= k < 120 else "old") for k in range(400)}
    assert got == expect

    # stats survive for every listed file -> the NEXT upsert prunes too
    assert all("k" in m2.get("stats", {}).get(f, {}) for f in m2["files"])
    mtimes_2 = {f: os.path.getmtime(t / f) for f in m2["files"]}
    snapshot_upsert(spark, spark.createDataFrame([(5, "x")], "k long, v string"), t, ["k"])
    m3 = _read_manifest(t, current_version(t))
    assert len(set(m2["files"]) & set(m3["files"])) >= len(m2["files"]) - 2
    for f in set(m2["files"]) & set(m3["files"]):
        assert os.path.getmtime(t / f) == mtimes_2[f]

    # empty batch: metadata-only version, same file list
    v_before = current_version(t)
    snapshot_upsert(
        spark, spark.createDataFrame([], "k long, v string"), t, ["k"]
    )
    m4 = _read_manifest(t, current_version(t))
    assert current_version(t) == v_before + 1
    assert m4["files"] == m3["files"]


def test_vacuum_keeps_files_shared_across_pruned_upsert_versions(spark, tmp_path):
    """Pruned upserts CARRY untouched files into new manifests by
    reference; vacuum(keep=1) must keep every file the latest manifest
    lists — including carried ones older than the retained version — and
    delete only the superseded rewrite set."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        snapshot_vacuum,
        snapshot_write,
    )

    t = tmp_path / "t"
    base = spark.range(0, 400).select(F.col("id").alias("k"), F.lit("old").alias("v"))
    snapshot_write(base, t, stats_cols=["k"], n_files=8)
    m1 = set(_read_manifest(t, current_version(t))["files"])
    snapshot_upsert(
        spark,
        spark.createDataFrame([(150, "new")], "k long, v string"),
        t,
        ["k"],
    )
    m2 = set(_read_manifest(t, current_version(t))["files"])
    carried = m1 & m2
    superseded = m1 - m2
    assert carried and superseded

    deleted = set(snapshot_vacuum(t, keep_versions=1))
    assert deleted == superseded  # ONLY the rewritten range's old files go
    for f in carried:
        assert (t / f).exists()
    got = {(r.k, r.v) for r in snapshot_read(spark, t).collect()}
    assert got == {(k, "new" if k == 150 else "old") for k in range(400)}


def test_delete_range_rewrites_only_overlapping_files(spark, tmp_path):
    """Copy-on-write range DELETE: rows in [lo, hi] vanish from the new
    version, only overlapping files rewrite (others carry byte-identical
    with stats), NULL-key rows survive, the old version still time-travels
    to the deleted rows, and a no-overlap range commits a metadata-only
    version."""
    import os

    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        snapshot_delete_range,
        snapshot_write,
    )

    t = tmp_path / "t"
    base = spark.range(0, 400).select(
        F.when(F.col("id") == 399, None).otherwise(F.col("id")).alias("k"),
        F.lit("row").alias("v"),
    )
    snapshot_write(base, t, stats_cols=["k"], n_files=8)
    v1 = current_version(t)
    m1 = _read_manifest(t, v1)
    mtimes = {f: os.path.getmtime(t / f) for f in m1["files"]}

    snapshot_delete_range(spark, t, "k", 100, 119)
    v2 = current_version(t)
    m2 = _read_manifest(t, v2)

    carried = set(m1["files"]) & set(m2["files"])
    assert len(set(m1["files"]) - set(m2["files"])) <= 2  # only overlap rewrote
    for f in carried:
        assert os.path.getmtime(t / f) == mtimes[f]

    ks = {r.k for r in snapshot_read(spark, t).collect()}
    assert None in ks  # NULL-key row survives a range delete
    assert ks & set(range(100, 120)) == set()
    assert ks >= set(range(0, 100)) and ks >= set(range(120, 399))
    # stats survive for every listed file
    assert all("k" in m2.get("stats", {}).get(f, {}) for f in m2["files"])

    # time travel still sees the deleted rows
    old = {r.k for r in snapshot_read(spark, t, version=v1).collect()}
    assert set(range(100, 120)) <= old

    # no-overlap range: metadata-only new version, same files
    snapshot_delete_range(spark, t, "k", 10_000, 20_000)
    m3 = _read_manifest(t, current_version(t))
    assert current_version(t) == v2 + 1
    assert m3["files"] == m2["files"]


def test_upsert_all_null_key_batch_appends_instead_of_vanishing(spark, tmp_path):
    """A non-empty batch whose key is NULL in every row matches nothing
    (anti-join never equates NULLs) — on a stats-pruned table it must
    APPEND those rows exactly as the stats-less full rewrite does, never
    be mistaken for an empty batch and dropped."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_write,
    )

    t = tmp_path / "t"
    base = spark.range(0, 40).select(F.col("id").alias("k"), F.lit("old").alias("v"))
    snapshot_write(base, t, stats_cols=["k"], n_files=4)
    null_batch = spark.createDataFrame(
        [(None, "null-key-1"), (None, "null-key-2")], "k long, v string"
    )
    snapshot_upsert(spark, null_batch, t, ["k"])
    rows = snapshot_read(spark, t).collect()
    assert len(rows) == 42
    assert sorted(r.v for r in rows if r.k is None) == ["null-key-1", "null-key-2"]


def test_upsert_no_key_stats_fallback_keeps_other_column_stats(spark, tmp_path):
    """A table tracking stats on a NON-key column, upserted on a key with
    no stats anywhere: the full-rewrite fallback must re-collect the
    tracked column's stats for the new files, not strip the manifest."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        snapshot_write,
    )

    t = tmp_path / "t"
    base = spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("d"), F.lit("old").alias("v")
    )
    snapshot_write(base, t, stats_cols=["d"], n_files=4)
    snapshot_upsert(
        spark, spark.createDataFrame([(5, 5 % 7, "new")], "k long, d long, v string"),
        t, ["k"],
    )
    m = _read_manifest(t, current_version(t))
    assert m["files"] and all("d" in m.get("stats", {}).get(f, {}) for f in m["files"])


def test_upsert_evaluates_a_nondeterministic_batch_once(spark, tmp_path):
    """A batch whose keys are random is evaluated once: the key range
    that prunes, the keys that anti-join and the rows committed all come
    from the same staged rows, so no key is left twice and the table's
    new rows are exactly the staged ones."""
    import random

    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
    )

    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 4000, "old"), t, stats_cols=["k"], n_files=8)
    pre = set(_read_manifest(t, current_version(t))["files"])
    # one key per id in [id * 80, id * 80 + 80): distinct, spread over
    # the table's ranges, different on every evaluation (F.rand() would
    # repeat: its seed is fixed when the column is built)
    draw = F.udf(
        lambda i: i * 80 + random.SystemRandom().randrange(80), "long"
    ).asNondeterministic()
    batch = spark.range(0, 50, numPartitions=4).select(
        draw("id").alias("k"), F.lit("new").alias("v"),
    )
    snapshot_upsert(spark, batch, t, ["k"])

    rows = snapshot_read(spark, t).collect()
    keys = [r.k for r in rows]
    assert len(keys) == len(set(keys)) == 4000
    new = sorted((r.k, r.v) for r in rows if r.v == "new")
    assert len(new) == 50
    added = set(_read_manifest(t, current_version(t))["files"]) - pre
    staged = spark.read.parquet(*[str(t / f) for f in added]).where(
        F.col("v") == "new"
    )
    assert sorted((r.k, r.v) for r in staged.collect()) == new


@pytest.mark.parametrize("case", ["one_row", "empties_a_file", "no_key_stats"])
def test_upsert_commits_only_files_holding_rows(spark, tmp_path, case):
    """Spark writes a part file for an empty first partition, and a
    rewrite whose rows the batch all replaces writes one empty file; an
    upsert commits neither. Every file it adds holds rows and carries the
    stats the table tracks (the key's, on a key-stats table)."""
    from energy_datalake_solution_spark.sources.snapshots import (
        _ROWS_KEY,
        _read_manifest,
    )

    t = tmp_path / "t"
    tracked = "v" if case == "no_key_stats" else "k"
    snapshot_write(_df(spark, 0, 40, "old"), t, stats_cols=[tracked], n_files=4)
    pre = set(_read_manifest(t, current_version(t))["files"])
    if case == "empties_a_file":
        batch = _df(spark, 0, 10, "new")  # every row of the first file
    else:
        batch = spark.createDataFrame([(5, "new")], "k long, v string")
    assert batch.rdd.getNumPartitions() > 1
    snapshot_upsert(spark, batch, t, ["k"])

    m = _read_manifest(t, current_version(t))
    added = set(m["files"]) - pre
    assert added
    for f in added:
        assert m["stats"][f][_ROWS_KEY] > 0
        assert tracked in m["stats"][f]
    got = sorted((r.k, r.v) for r in snapshot_read(spark, t).collect())
    new = range(10) if case == "empties_a_file" else [5]
    assert got == sorted(
        (k, "new" if k in new else "old") for k in range(40)
    )


def test_stream_sink_skips_replays_stamped_under_legacy_namespace(spark, tmp_path):
    """A checkpoint lineage that stamped its txns under the raw path
    spelling (pre-canonicalization default) must keep skipping replays
    after the default became resolve()d — not re-commit the batch under
    the new namespace."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_append,
        snapshot_write,
        stream_snapshot_sink,
    )

    t = tmp_path / "t"
    snapshot_write(
        spark.createDataFrame([(1, "seed")], "k long, v string"), t
    )
    # an unresolved spelling of the checkpoint dir (resolve() differs)
    ckpt = tmp_path / "sub" / ".." / "ckpt"
    assert str(ckpt) != str(ckpt.resolve())
    # the old lineage already committed batch 0 under the RAW spelling
    snapshot_append(
        spark.createDataFrame([(2, "batch0")], "k long, v string"),
        t, txn=0, txn_app=str(ckpt),
    )
    v_before = current_version(t)

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame([(2, "batch0")], "k long, v string").coalesce(1).write.json(
        str(src / "b0")
    )
    stream = spark.readStream.schema("k long, v string").json(str(src))
    q = stream_snapshot_sink(stream, t, ckpt)  # fresh checkpoint: batch 0 replays
    q.awaitTermination(60)
    assert current_version(t) == v_before  # skipped via the legacy stamp
    assert [r.v for r in snapshot_read(spark, t).collect()].count("batch0") == 1


def test_bloom_point_lookup_skips_files_without_false_negatives(spark, tmp_path):
    """Per-file Bloom filters: on a layout NOT sorted by the lookup column
    (min/max stats admit every file), a point lookup must skip most files
    via the manifest blooms, NEVER skip a file that holds the value, and
    prune everything for a value absent from the table."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        snapshot_files,
        snapshot_write,
    )

    t = tmp_path / "t"
    # 4000 rows, laid out by ts-bucket (NOT by user_id): every file spans
    # the full user_id range, so min/max alone prunes nothing
    df = spark.range(0, 4000).select(
        (F.col("id") % 16).alias("ts_bucket"),
        (F.col("id") % 997).alias("user_id"),  # high cardinality
        F.col("id").alias("event_id"),
    )
    snapshot_write(
        df, t, bloom_cols=["user_id"], stats_cols=["ts_bucket"], n_files=8
    )
    m = _read_manifest(t, current_version(t))
    n_files = len(m["files"])
    assert n_files >= 6
    assert all("user_id" in m.get("blooms", {}).get(f, {}) for f in m["files"])

    # no false negatives: every file truly holding the value is kept
    for probe in (0, 7, 123, 996):
        kept = set(snapshot_files(t, [{"user_id": (probe, probe)}]))
        rows = (
            spark.read.parquet(*[str(t / f) for f in kept])
            .where(F.col("user_id") == probe)
            .count()
        )
        true_rows = df.where(F.col("user_id") == probe).count()
        assert rows == true_rows, f"bloom pruning lost rows for {probe}"

    # a value absent from the table prunes (essentially) everything:
    # each file holds ~500 of 997 user_ids, so at ~0.9% FP per file the
    # expected kept count is << n_files; allow 2 for FP slack
    assert len(snapshot_files(t, [{"user_id": (10**9, 10**9)}])) <= 2

    # min/max stats still compose: a ts_bucket outside every range drops
    # all files regardless of blooms
    assert snapshot_files(t, [{"ts_bucket": (99, 99)}]) == []


def test_zordered_snapshot_prunes_files_on_both_columns(spark, tmp_path):
    """snapshot_write(..., zorder_by=...): per-file manifest stats over BOTH Morton
    columns must let a mid-range slice on EITHER column prune files, and
    pruned range reads must lose no rows vs plain filters."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        snapshot_files,
        snapshot_read,
        snapshot_write,
    )

    from .conftest import SF_ORACLE

    l = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    t = tmp_path / "t"
    snapshot_write(l, t, zorder_by=["l_partkey", "l_suppkey"], n_files=8)
    m = _read_manifest(t, current_version(t))
    n_files = len(m["files"])
    assert n_files >= 6
    assert all(
        {"l_partkey", "l_suppkey"} <= set(m.get("stats", {}).get(f, {}))
        for f in m["files"]
    )

    rng = l.agg(
        F.min("l_partkey"), F.max("l_partkey"), F.min("l_suppkey"), F.max("l_suppkey")
    ).collect()[0]
    # a mid-range 1/8 slice on EITHER dimension prunes files (a
    # single-column sort would prune only its own column)
    for col, lo, hi in (
        ("l_partkey", rng[0], rng[0] + (rng[1] - rng[0]) // 8),
        ("l_suppkey", rng[2], rng[2] + (rng[3] - rng[2]) // 8),
    ):
        kept = snapshot_files(t, [{col: (lo, hi)}])
        assert len(kept) < n_files, f"{col}: no pruning ({len(kept)}/{n_files})"
        got = snapshot_read(spark, t, where=[{col: (lo, hi)}]).count()
        want = l.where((F.col(col) >= lo) & (F.col(col) <= hi)).count()
        assert got == want, f"{col}: pruned read lost rows"


def test_history_reports_ops_newest_first(spark, tmp_path):
    """snapshot_history: one row per on-disk manifest, newest first, op
    and timestamp stamped, current flagged; vacuumed versions vanish."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_append,
        snapshot_delete_range,
        snapshot_history,
        snapshot_vacuum,
        snapshot_write,
    )

    t = tmp_path / "t"
    df = spark.range(0, 100).select(F.col("id").alias("k"), F.lit("v").alias("v"))
    snapshot_write(df, t, stats_cols=["k"], n_files=4)
    snapshot_append(spark.createDataFrame([(200, "a")], "k long, v string"), t)
    snapshot_upsert(spark, spark.createDataFrame([(5, "u")], "k long, v string"), t, ["k"])
    snapshot_delete_range(spark, t, "k", 10, 19)

    h = snapshot_history(t)
    assert [r["version"] for r in h] == [4, 3, 2, 1]
    assert [r["op"] for r in h] == ["delete", "upsert", "append", "write"]
    assert all(r["ts"] is not None for r in h)
    assert h[0]["current"] and not any(r["current"] for r in h[1:])
    assert all(r["n_files"] >= 1 for r in h)

    snapshot_vacuum(t, keep_versions=2)
    assert [r["version"] for r in snapshot_history(t)] == [4, 3]


def test_blooms_survive_upsert_append_delete_and_compact(spark, tmp_path):
    """Pruning metadata must never be silently stripped: after an upsert,
    an append, a range delete, and a compact on a bloom-carrying table,
    point lookups still skip files for absent keys and still find every
    row for present keys."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        snapshot_append,
        snapshot_compact,
        snapshot_delete_range,
        snapshot_files,
        snapshot_write,
    )

    t = tmp_path / "t"
    df = spark.range(0, 2000).select(
        (F.col("id") % 8).alias("bucket"),
        (F.col("id") % 499).alias("uid"),
        F.col("id").alias("k"),
    )
    snapshot_write(df, t, bloom_cols=["uid"], stats_cols=["k"], n_files=8)

    def check(stage):
        m = _read_manifest(t, current_version(t))
        assert m.get("blooms"), f"{stage}: blooms stripped"
        assert all("uid" in m["blooms"].get(f, {}) for f in m["files"]), stage
        ghost = snapshot_files(t, [{"uid": (10**9, 10**9)}])
        assert len(ghost) <= 2, f"{stage}: absent-key prune lost ({len(ghost)})"
        kept = snapshot_files(t, [{"uid": (123, 123)}])
        found = (
            spark.read.parquet(*[str(t / f) for f in kept])
            .where(F.col("uid") == 123)
            .count()
        )
        want = snapshot_read(spark, t).where(F.col("uid") == 123).count()
        assert found == want, f"{stage}: false negative"

    snapshot_upsert(
        spark,
        spark.createDataFrame([(0, 123, 5)], "bucket long, uid long, k long"),
        t, ["k"],
    )
    check("upsert")
    snapshot_append(
        spark.createDataFrame([(1, 123, 5000)], "bucket long, uid long, k long"), t
    )
    check("append")
    snapshot_delete_range(spark, t, "k", 100, 119)
    check("delete")
    snapshot_compact(spark, t, target_files=8, stats_cols=["k"])
    check("compact")


def test_two_writer_threaded_appends_all_compose(spark, tmp_path):
    """Two writer threads appending concurrently: with the optimistic
    rebase every batch must land — no lost updates, no duplicates —
    regardless of interleaving. (The commit critical section plus
    rebase-retry is what turns the old single-writer-lineage contract
    into a real multi-writer one.)"""
    import threading

    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 10, "base"), t)
    barrier = threading.Barrier(2)
    errors = []

    def writer(writer_id: int):
        try:
            barrier.wait()
            for i in range(3):
                lo = 100 + writer_id * 30 + i * 10
                snapshot_append(_df(spark, lo, lo + 10, f"w{writer_id}"), t)
        except Exception as e:  # noqa: BLE001 - surfaced via the assert below
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert snapshot_read(spark, t).count() == 10 + 6 * 10
    assert current_version(t) == 7  # 1 base + 6 appends, all on the chain


def test_stale_parent_commit_cannot_drop_racer_files(spark, tmp_path):
    """The lost-update case the locked pointer swap exists for: a writer
    that read parent=1 and publishes AFTER a racer advanced the tip must
    get a conflict — its (stale) file list, which omits the racer's
    files, must never become the tip."""
    import pytest as _pytest

    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 5, "a"), t)  # v1
    p = S._table(t)
    stale_files = S._write_files(_df(spark, 100, 102, "stale"), p)
    snapshot_append(_df(spark, 50, 55, "racer"), t)  # v2 — the racer wins
    with _pytest.raises(S.SnapshotCommitConflict):
        S._commit(p, stale_files, parent=1)
    # the racer's rows are still on the tip; the stale writer's are not
    assert snapshot_read(spark, t).count() == 10
    # and the stale writer retries cleanly by rebasing on the new tip
    m2 = S._read_manifest(p, S.current_version(t))
    S._commit(p, m2["files"] + stale_files, parent=2)
    assert snapshot_read(spark, t).count() == 12


def test_conflicting_upsert_rebases_prune_against_new_tip(spark, tmp_path, monkeypatch):
    """An upsert whose commit loses a race re-runs its WHOLE file prune
    against the new parent (not just the pointer swap): the racer's
    append lands mid-upsert, and the final table must contain the
    racer's rows AND the upsert's updates with no duplicates."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "t"
    snapshot_upsert(
        spark,
        _df(spark, 0, 40, "base"),
        t,
        ["k"],
        seed_stats_files=4,
    )
    real_commit = S._commit
    state = {"injected": False}

    def racing_commit(p_, files_, parent_, **kw):
        if not state["injected"]:
            state["injected"] = True
            # the racer lands an append between this upsert's parent read
            # and its commit (this nested call sees injected=True and
            # delegates straight to the real commit)
            snapshot_append(_df(spark, 100, 105, "racer"), t)
        return real_commit(p_, files_, parent_, **kw)

    monkeypatch.setattr(S, "_commit", racing_commit)
    batch = _df(spark, 10, 20, "updated")
    snapshot_upsert(spark, batch, t, ["k"])
    monkeypatch.undo()
    got = {
        r["k"]: r["v"]
        for r in snapshot_read(spark, t).select("k", "v").collect()
    }
    assert len(got) == 40 + 5  # no duplicates, racer's rows present
    assert all(got[k] == "updated" for k in range(10, 20))
    assert all(got[k] == "base" for k in list(range(0, 10)) + list(range(20, 40)))
    assert all(got[k] == "racer" for k in range(100, 105))


def test_zorder_compact_restores_two_dim_pruning(spark, tmp_path):
    """Arrival-ordered appends admit every file for a 2-D rectangle;
    snapshot_zorder_compact_n re-lays the table on the Morton curve and
    the same rectangle read prunes on BOTH columns, with identical rows
    before and after (OPTIMIZE ZORDER semantics). The layout is the
    deterministic z-bucket arrangement, so a second compaction produces
    identical per-file stats rectangles."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        snapshot_append,
        snapshot_read,
        snapshot_write,
        snapshot_zorder_compact_n,
    )

    from .conftest import SF_ORACLE

    t = tmp_path / "t"
    l = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    third = F.pmod("l_orderkey", F.lit(3))
    snapshot_write(l.where(third == 0), t)
    snapshot_append(l.where(third == 1), t)
    snapshot_append(l.where(third == 2), t)

    expected = sorted(
        (r.l_orderkey, r.l_partkey, r.l_suppkey, float(r.l_quantity))
        for r in l.where(
            (F.col("l_partkey").between(1, 50)) & (F.col("l_suppkey").between(1, 5))
        ).collect()
    )
    v = snapshot_zorder_compact_n(spark, t, ["l_partkey", "l_suppkey"], n_files=8)
    m = _read_manifest(t, v)
    total = len(m["files"])
    assert total >= 6
    rect = snapshot_read(
        spark, t, where=[{"l_partkey": (1, 50), "l_suppkey": (1, 5)}]
    )
    assert len(rect.inputFiles()) <= total // 2  # both dimensions cut
    got = sorted(
        (r.l_orderkey, r.l_partkey, r.l_suppkey, float(r.l_quantity))
        for r in rect.collect()
    )
    assert got == expected  # pruning lost nothing
    # deterministic maintenance: compacting again reproduces the rectangles
    v2 = snapshot_zorder_compact_n(spark, t, ["l_partkey", "l_suppkey"], n_files=8)
    m2 = _read_manifest(t, v2)
    rects = lambda mm: sorted(tuple(s.get(c, [None, None])) for f, s in mm["stats"].items() for c in ("l_partkey", "l_suppkey"))  # noqa: E731
    assert rects(m) == rects(m2)


def test_incremental_zorder_carries_clustered_files_untouched(spark, tmp_path):
    """Liquid-clustering-shaped maintenance: after a full z-order
    compaction, appends accumulate an unclustered tail; an INCREMENTAL
    zorder compaction must rewrite ONLY the tail — the clustered files
    carry into the new manifest byte-identical (same relative paths,
    same stats) — and the rectangle read stays exact. A second
    incremental call with no new appends is a metadata no-op."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_append,
        snapshot_read,
        snapshot_write,
        snapshot_zorder_compact_n,
    )

    from .conftest import SF_ORACLE

    t = tmp_path / "t"
    l = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    band = F.pmod("l_orderkey", F.lit(4))
    snapshot_write(l.where(band == 0), t)
    v_full = snapshot_zorder_compact_n(spark, t, ["l_partkey", "l_suppkey"], n_files=8)
    clustered = set(_read_manifest(t, v_full)["files"])

    snapshot_append(l.where(band == 1), t)
    snapshot_append(l.where(band == 2), t)

    v_inc = snapshot_zorder_compact_n(
        spark, t, ["l_partkey", "l_suppkey"], n_files=4, incremental=True
    )
    m = _read_manifest(t, v_inc)
    # every clustered file carried verbatim; the arrival-ordered append
    # files are gone (rewritten as the z-arranged tail)
    assert clustered <= set(m["files"])
    new_files = set(m["files"]) - clustered
    assert new_files and all(f not in clustered for f in new_files)
    full_stats = _read_manifest(t, v_full)["stats"]
    for f in clustered:
        assert m["stats"][f] == full_stats[f]
    # the rectangle read equals brute force over the current snapshot
    expected = sorted(
        (r.l_orderkey, r.l_partkey, r.l_suppkey, float(r.l_quantity))
        for r in snapshot_read(spark, t)
        .where((F.col("l_partkey").between(1, 50)) & (F.col("l_suppkey").between(1, 5)))
        .collect()
    )
    got = sorted(
        (r.l_orderkey, r.l_partkey, r.l_suppkey, float(r.l_quantity))
        for r in snapshot_read(
            spark, t, where=[{"l_partkey": (1, 50), "l_suppkey": (1, 5)}]
        ).collect()
    )
    assert got == expected
    # idempotent steady state: nothing unclustered -> no new version
    assert (
        snapshot_zorder_compact_n(
            spark, t, ["l_partkey", "l_suppkey"], n_files=4, incremental=True
        )
        == v_inc
    )
    assert current_version(t) == v_inc


def test_mor_delete_rewrites_no_files_and_never_resurrects(spark, tmp_path):
    """Merge-on-read DELETE: the commit rewrites NO data file (manifest
    file list unchanged, vectors added), reads/row-counts/pruned reads
    apply the vectors, old versions still time-travel to the rows,
    vectors merge across deletes, a later pruned upsert does NOT
    resurrect deleted rows, and compaction purges the vectors
    physically."""
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_compact,
        snapshot_delete_range_mor,
        snapshot_read,
        snapshot_row_count,
        snapshot_upsert,
        snapshot_write,
    )

    t = tmp_path / "t"
    df = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    snapshot_write(df, t, stats_cols=["k"], n_files=8)
    v1 = current_version(t)
    files_v1 = list(_read_manifest(t, v1)["files"])

    v2 = snapshot_delete_range_mor(spark, t, "k", 1000, 1999)
    m2 = _read_manifest(t, v2)
    assert m2["files"] == sorted(files_v1)  # no file rewritten
    assert m2["op"] == "delete-mor" and m2.get("dv")
    assert snapshot_read(spark, t).count() == 3000
    assert snapshot_row_count(t) == 3000  # manifest-only count sees the DV
    assert snapshot_read(spark, t, version=v1).count() == 4000  # time travel
    got = sorted(
        r.k for r in snapshot_read(spark, t, where=[{"k": (500, 2499)}]).collect()
    )
    assert got == list(range(500, 1000)) + list(range(2000, 2500))

    # vectors merge across deletes (overlap is deduplicated)
    v3 = snapshot_delete_range_mor(spark, t, "k", 1500, 2099)
    assert _read_manifest(t, v3)["files"] == sorted(files_v1)
    assert snapshot_read(spark, t).count() == 2900

    # pruned upsert touching a deleted region must not resurrect rows
    batch = spark.range(1200, 1210).select(
        F.col("id").alias("k"), F.lit(-1.0).alias("v")
    )
    snapshot_upsert(spark, batch, t, ["k"])
    after = {r.k: r.v for r in snapshot_read(spark, t).collect()}
    assert len(after) == 2910  # 2900 survivors + 10 re-inserted keys
    assert all(after[k] == -1.0 for k in range(1200, 1210))
    assert 1500 not in after and 2000 not in after  # still deleted

    # compaction materializes the deletions and drops the vectors
    v5 = snapshot_compact(spark, t, target_files=4, stats_cols=["k"])
    m5 = _read_manifest(t, v5)
    assert not m5.get("dv")
    assert snapshot_read(spark, t).count() == 2910


def test_mor_delete_wide_ranges_fall_back_to_rewrite(spark, tmp_path, monkeypatch):
    """The DV cap is counted: a delete matching more rows than
    DV_MAX_DELETED_ROWS routes to the copy-on-write path (files rewritten,
    no vectors) instead of committing a giant vector."""
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_delete_range_mor,
        snapshot_read,
        snapshot_write,
    )

    t = tmp_path / "t"
    df = spark.range(0, 1000).select(F.col("id").alias("k"))
    snapshot_write(df, t, stats_cols=["k"], n_files=4)
    from energy_datalake_solution_spark.sources import snapshots as S

    monkeypatch.setattr(S, "DV_MAX_DELETED_ROWS", 100)
    v = snapshot_delete_range_mor(spark, t, "k", 0, 899)
    m = _read_manifest(t, current_version(t))
    assert v == current_version(t)
    assert m["op"] == "delete"  # the CoW path committed
    assert not m.get("dv")
    assert snapshot_read(spark, t).count() == 100


def test_mor_scattered_vectors_take_join_path_and_stay_exact(spark, tmp_path):
    """A deletion vector with more contiguous runs than the expression
    budget must route to the broadcast anti-join path and still apply
    exactly (every 2nd key deleted -> one run per position)."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "t"
    df = spark.range(0, 2000).select(F.col("k").alias("k")) if False else (
        spark.range(0, 2000).withColumnRenamed("id", "k")
    )
    S.snapshot_write(df, t, stats_cols=["k"], n_files=2)
    # delete every even key in [0, 999]: 500 positions, ~500 runs > budget
    for lo in range(0, 1000, 2):
        pass  # (500 tiny commits would be slow; build the vector directly)
    m = S._read_manifest(t, S.current_version(t))
    rel0 = sorted(m["files"])[0]
    import pyarrow.parquet as pq

    ks = pq.read_table(str(t / rel0), columns=["k"]).column("k").to_pylist()
    victim_pos = [i for i, k in enumerate(ks) if k % 2 == 0][:500]
    dv = {rel0: S._pack_positions(victim_pos)}
    S._commit(S._table(t), list(m["files"]), S.current_version(t),
              stats=m.get("stats") or None, dv=dv, op="delete-mor")
    runs = S._position_runs(S._unpack_positions(dv[rel0]))
    assert len(runs) > S._DV_RUNS_MAX  # genuinely the join regime
    got = sorted(r.k for r in S.snapshot_read(spark, t).collect())
    deleted = {ks[i] for i in victim_pos}
    expected = sorted(set(range(2000)) - deleted)
    assert got == expected


def test_change_feed_reports_net_changes_from_changed_files_only(spark, tmp_path):
    """The manifest-aware change feed: updates appear as delete(old) +
    insert(new), MOR deletes as delete(row), carried rewrite rows cancel,
    and appended rows arrive via snapshot_read_incremental without the
    standing files being read."""
    from energy_datalake_solution_spark.sources.snapshots import (
        current_version,
        snapshot_append,
        snapshot_change_feed,
        snapshot_delete_range_mor,
        snapshot_read_incremental,
        snapshot_upsert,
        snapshot_write,
    )

    t = tmp_path / "t"
    base = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    snapshot_write(base, t, stats_cols=["k"], n_files=8)
    v1 = current_version(t)
    # update a narrow band (pruned rewrite: one file touched)
    batch = spark.range(1000, 1100).select(
        F.col("id").alias("k"), (F.col("id") + 0.5).alias("v")
    )
    snapshot_upsert(spark, batch, t, ["k"])
    # MOR-delete a band in untouched files
    snapshot_delete_range_mor(spark, t, "k", 3000, 3099)
    v3 = current_version(t)

    feed = snapshot_change_feed(spark, t, v1, v3).collect()
    ins = {(r.k, r.v) for r in feed if r._change_type == "insert"}
    dels = {(r.k, r.v) for r in feed if r._change_type == "delete"}
    assert ins == {(k, k + 0.5) for k in range(1000, 1100)}
    assert dels == {(k, float(k)) for k in range(1000, 1100)} | {
        (k, float(k)) for k in range(3000, 3100)
    }
    assert len(feed) == len(ins) + len(dels)  # no duplicate rows

    # append-only incremental consumption: exactly the appended rows
    snapshot_append(
        spark.range(10000, 10050).select(
            F.col("id").alias("k"), F.lit(0.0).alias("v")
        ),
        t,
    )
    inc = snapshot_read_incremental(spark, t, since_version=v3)
    got = sorted(r.k for r in inc.collect())
    assert got == list(range(10000, 10050))


# ---------------------------------------------------------------------------
# Delta manifests: O(change) commit metadata + periodic checkpoints
# ---------------------------------------------------------------------------


def _raw_manifest(t, v):
    import json

    from energy_datalake_solution_spark.sources import snapshots as S

    return json.loads(S._manifest_path(t, v).read_text())


def test_commits_write_delta_manifests_between_checkpoints(spark, tmp_path):
    """Commits within the cadence store only {add, remove, ...}; the
    CHECKPOINT_EVERY-th hop materializes the full file list. Reads
    resolve identically either way."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 5, "a"), t)  # v1 = checkpoint (no parent)
    assert "delta" not in _raw_manifest(t, 1)
    assert _raw_manifest(t, 1)["ckpt_dist"] == 0
    n_appends = S.CHECKPOINT_EVERY + 2
    for i in range(n_appends):
        snapshot_append(_df(spark, 5 + i, 6 + i, "b"), t)
    # v2..v{CHECKPOINT_EVERY} are deltas; v{CHECKPOINT_EVERY+1} is the
    # next checkpoint (its parent sits CHECKPOINT_EVERY-1 hops out)
    for v in range(2, S.CHECKPOINT_EVERY + 1):
        raw = _raw_manifest(t, v)
        assert "delta" in raw and "files" not in raw, v
        assert raw["ckpt_dist"] == v - 1
        # an append's delta is exactly its own files — O(change) metadata
        assert len(raw["delta"]["add"]) >= 1
        assert raw["delta"]["remove"] == []
    ckpt = _raw_manifest(t, S.CHECKPOINT_EVERY + 1)
    assert "delta" not in ckpt and "files" in ckpt
    assert ckpt["ckpt_dist"] == 0
    # resolution: every version reads back the right row count
    for v in range(1, n_appends + 2):
        assert snapshot_read(spark, t, version=v).count() == 5 + (v - 1)


def test_delta_resolution_preserves_stats_blooms_dv(spark, tmp_path):
    """Stats-pruned reads, bloom point lookups and deletion vectors must
    survive a delta chain: the resolved manifest is field-for-field what
    a full manifest would have held."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "t"
    df = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    S.snapshot_write(df, t, stats_cols=["k"], n_files=4)  # v1 checkpoint
    S.snapshot_append(
        spark.range(1000, 1100).select(F.col("id").alias("k"), F.lit(0).alias("v")),
        t, stats_cols=["k"],
    )  # v2 delta carrying stats_set for its new files only
    raw2 = _raw_manifest(t, 2)
    assert "delta" in raw2
    assert set(raw2["delta"]["stats_set"]) == set(raw2["delta"]["add"])
    # MOR delete -> dv travels via dv_set in a delta manifest
    v3 = S.snapshot_delete_range_mor(spark, t, "k", 10, 19)
    raw3 = _raw_manifest(t, v3)
    assert "delta" in raw3 and "dv_set" in raw3["delta"]
    m = S._read_manifest(t, v3)
    assert m.get("dv")
    assert snapshot_read(spark, t).count() == 1090
    # stats-pruned read across the chain still prunes AND loses nothing
    files = S.snapshot_files(t, [{"k": (0, 100)}], v3)
    assert 0 < len(files) < len(m["files"])
    got = S.snapshot_read(spark, t, where=[{"k": (0, 100)}]).count()
    assert got == 91  # 101 keys minus 10 MOR-deleted


def test_vacuum_materializes_escaping_delta_chains(spark, tmp_path):
    """Vacuum that drops a delta chain's checkpoint ancestor must first
    materialize the kept versions' state — every retained version stays
    readable, byte-for-byte equal to its pre-vacuum contents."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 5, "a"), t)            # v1 checkpoint
    for i in range(4):                                   # v2..v5 deltas
        snapshot_append(_df(spark, 5 + i, 6 + i, "b"), t)
    before = {v: snapshot_read(spark, t, version=v).collect() for v in (4, 5)}
    deleted = snapshot_vacuum(t, keep_versions=2)        # keep {4, 5}
    # kept versions resolve without their (deleted) checkpoint ancestor
    for v in (4, 5):
        got = snapshot_read(spark, t, version=v).collect()
        assert sorted(got) == sorted(before[v])
    # the oldest kept version was rewritten as a full checkpoint
    assert "delta" not in _raw_manifest(t, 4)
    assert _raw_manifest(t, 4)["ckpt_dist"] == 0
    # v1's files minus the kept ones were reclaimed
    assert all(f.startswith("data/") for f in deleted)


def test_delta_chain_survives_rollback_and_recommit(spark, tmp_path):
    """parent pointers (not version arithmetic) drive resolution: after a
    rollback the next commit's delta folds onto the rolled-back parent."""
    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 5, "a"), t)          # v1
    snapshot_append(_df(spark, 5, 8, "b"), t)         # v2 delta
    snapshot_append(_df(spark, 8, 10, "c"), t)        # v3 delta
    snapshot_rollback(t, 2)
    v4 = snapshot_append(_df(spark, 20, 22, "d"), t)  # delta onto v2
    raw = _raw_manifest(t, v4)
    assert raw["parent"] == 2
    rows = {r.k for r in snapshot_read(spark, t).collect()}
    assert rows == set(range(8)) | {20, 21}  # v3's rows are NOT present


def test_commit_metadata_is_o_change_not_o_table(tmp_path):
    """The scaling contract, measured at the metadata layer: manifest
    bytes written per append commit stay flat (within the checkpoint
    cadence) as the table's standing file count grows 100x."""
    import json

    from energy_datalake_solution_spark.sources import snapshots as S

    t = S._table(tmp_path / "t")
    (t / "data" / "seed").mkdir(parents=True)

    def grow_to(n_files, start_v):
        files = [f"data/seed/f{i:06d}.parquet" for i in range(n_files)]
        stats = {f: {"k": [i * 10, i * 10 + 9], "__rows__": 10}
                 for i, f in enumerate(files)}
        # synthetic full commit to set the standing file count
        S._commit(t, files, start_v, stats=stats, op="write")
        return files

    sizes = {}
    v = 0
    for n in (100, 1000, 10_000):
        files = grow_to(n, v)
        v = S.current_version(t)
        # one O(1)-change append on top of the n-file table
        new = files + [f"data/seed/x{n}.parquet"]
        stats = dict(S._read_manifest(t, v)["stats"])
        stats[f"data/seed/x{n}.parquet"] = {"k": [0, 9], "__rows__": 10}
        v = S._commit(t, new, v, stats=stats, op="append")
        raw = _raw_manifest(t, v)
        assert "delta" in raw, n
        sizes[n] = S._manifest_path(t, v).stat().st_size
    # flat within 2x while the table grew 100x (a full manifest would
    # grow ~100x: it carries every file path + stats entry)
    assert sizes[10_000] < 2 * sizes[100], sizes
    full_size = S._manifest_path(t, S._read_manifest(t, v)["parent"]).stat().st_size
    assert sizes[10_000] * 50 < full_size, (sizes, full_size)


def test_broken_stale_lock_holder_fails_loudly(spark, tmp_path):
    """Fenced pointer lock: a holder stalled past the stale deadline whose
    lock was broken (and re-acquired) must fail its ownership check
    instead of swapping the pointer — and its release must not remove
    the new owner's lock."""
    import os

    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 5, "a"), t)
    p = S._table(t)
    # writer A acquires, then stalls past the stale deadline
    lock_a, token_a = S._acquire_pointer_lock(p)
    old = os.stat(lock_a)
    os.utime(lock_a, (old.st_atime, old.st_mtime - S._LOCK_STALE_SECS - 5))
    # writer B judges it stale, breaks it via atomic rename, re-acquires
    lock_b, token_b = S._acquire_pointer_lock(p)
    assert lock_b == lock_a and token_b != token_a
    # A resumes: its fencing check fails loudly — no silent double-entry
    with pytest.raises(S.SnapshotCommitConflict, match="broken while held"):
        S._verify_pointer_lock(lock_a, token_a)
    # A's release leaves B's lock in place
    S._release_pointer_lock(lock_a, token_a)
    assert lock_b.read_text() == token_b
    # B's own section completes normally
    S._verify_pointer_lock(lock_b, token_b)
    S._release_pointer_lock(lock_b, token_b)
    assert not lock_b.exists()


def test_stale_lock_break_single_winner(spark, tmp_path):
    """Exactly one of two concurrent breakers wins the atomic-rename
    break; both subsequently acquire in turn and the table still
    commits correctly afterwards."""
    import os

    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 5, "a"), t)
    p = S._table(t)
    lock, _ = S._acquire_pointer_lock(p)
    old = os.stat(lock)
    os.utime(lock, (old.st_atime, old.st_mtime - S._LOCK_STALE_SECS - 5))
    # both breakers run the full acquire loop; serialization via the
    # O_EXCL retry means both eventually hold the lock once each
    l1, t1 = S._acquire_pointer_lock(p)
    S._release_pointer_lock(l1, t1)
    l2, t2 = S._acquire_pointer_lock(p)
    S._release_pointer_lock(l2, t2)
    # no stray corpse files left behind
    assert not list(p.glob("_commit.lock.broken.*"))
    # and the commit protocol still works end-to-end
    snapshot_append(_df(spark, 5, 8, "b"), t)
    assert snapshot_read(spark, t).count() == 8


def test_dv_read_survives_symlinked_table_path(spark, tmp_path):
    """Deletion-vector keys are table-relative: reading the SAME table
    through a symlinked root must still apply the vectors (the old
    absolute-path keys matched nothing under a symlink and silently
    resurrected deleted rows)."""
    import os

    from energy_datalake_solution_spark.sources import snapshots as S

    real = tmp_path / "real" / "t"
    snapshot_write(
        spark.range(0, 100).select(F.col("id").alias("k"), F.lit("a").alias("v")),
        real,
    )
    S.snapshot_delete_range_mor(spark, real, "k", 10, 19)
    assert snapshot_read(spark, real).count() == 90
    link_root = tmp_path / "link"
    os.symlink(real.parent, link_root)
    via_link = link_root / "t"
    assert snapshot_read(spark, via_link).count() == 90  # not 100
    kept = {r.k for r in snapshot_read(spark, via_link).collect()}
    assert kept == set(range(0, 10)) | set(range(20, 100))


def test_repeated_mor_delete_stays_on_fast_path(spark, tmp_path, monkeypatch):
    """Overlapping range deletes must not double-count already-vectored
    rows against DV_MAX_DELETED_ROWS: the second, overlapping delete's NEW
    hits fit the cap, so it must commit as delete-mor (not fall back to
    the copy-on-write rewrite) and the final contents are exact."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "t"
    snapshot_write(
        spark.range(0, 100).select(F.col("id").alias("k"), F.lit("a").alias("v")),
        t,
    )
    S.snapshot_delete_range_mor(spark, t, "k", 0, 59)        # 60 dead rows
    # overlapping window re-deletes 0..59 (all already dead) + 10 new;
    # with double counting hits=70 > cap=15 -> spurious CoW fallback
    monkeypatch.setattr(S, "DV_MAX_DELETED_ROWS", 15)
    v = S.snapshot_delete_range_mor(spark, t, "k", 0, 69)
    hist = {h["version"]: h["op"] for h in S.snapshot_history(t)}
    assert hist[v] == "delete-mor", hist
    assert snapshot_read(spark, t).count() == 30
    assert {r.k for r in snapshot_read(spark, t).collect()} == set(range(70, 100))


def test_change_feed_on_schema_evolved_window(spark, tmp_path):
    """A change window spanning a schema evolution must carry the
    late-added column (NULL on pre-evolution rows) and must not cancel
    rows that differ ONLY in that column — the single-footer inference
    dropped it and EXCEPT ALL under-reported updates."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 5, "a"), t)  # v1: (k, v)
    v_from = current_version(t)
    # evolution: same keys re-upserted with an extra column w
    wide = spark.range(0, 5).select(
        F.col("id").alias("k"), F.lit("a").alias("v"), F.lit(7).alias("w")
    )
    snapshot_upsert(spark, wide, t, ["k"])
    feed = S.snapshot_change_feed(spark, t, v_from).collect()
    assert "w" in feed[0].asDict()
    ins = [r for r in feed if r["_change_type"] == "insert"]
    dels = [r for r in feed if r["_change_type"] == "delete"]
    # every key's row changed (gained w=7): 5 inserts + 5 deletes, none
    # cancelled by a w-blind comparison
    assert len(ins) == 5 and len(dels) == 5
    assert all(r["w"] == 7 for r in ins)
    assert all(r["w"] is None for r in dels)


# ---------------------------------------------------------------------------
# Streaming source over the change feed (snapshot_tail_changes)
# ---------------------------------------------------------------------------


def test_tail_changes_replays_appends_and_mor_delete_across_restart(
    spark, tmp_path
):
    """The consumer, interrupted and restarted, must deliver every
    version's changes exactly once and in order; the union of its
    batches equals snapshot_change_feed over the whole window plus the
    initial contents — appends AND a MOR delete included."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t, prog = tmp_path / "t", tmp_path / "progress"
    snapshot_write(_df(spark, 0, 5, "a"), t)            # v1
    snapshot_append(_df(spark, 5, 8, "b"), t)           # v2
    got: list[tuple[int, frozenset]] = []

    def sink(df, ver):
        got.append((ver, frozenset(tuple(r) for r in df.collect())))

    # first consumer instance: consume ONE version, then "crash"
    n = S.snapshot_tail_changes(spark, t, prog, sink, max_versions=1)
    assert n == 1 and [v for v, _ in got] == [1]
    # more commits while the consumer is down
    snapshot_append(_df(spark, 8, 10, "c"), t)          # v3
    S.snapshot_delete_range_mor(spark, t, "k", 0, 2)    # v4: MOR delete
    # restarted instance resumes at v2 — no duplicates
    n = S.snapshot_tail_changes(spark, t, prog, sink)
    assert n == 3
    assert [v for v, _ in got] == [1, 2, 3, 4]
    # batch contents: v1 = initial inserts; v4 = three MOR deletes
    assert got[0][1] == frozenset((k, "a", "insert") for k in range(5))
    assert got[3][1] == frozenset((k, "a", "delete") for k in range(3))
    # union of batches == initial + full-window change feed, row for row
    whole = frozenset(
        tuple(r) for r in S.snapshot_change_feed(spark, t, 1, 4).collect()
    ) | got[0][1]
    union = frozenset(x for _, batch in got for x in batch)
    assert union == whole
    # fully drained: nothing more to consume
    assert S.snapshot_tail_changes(spark, t, prog, sink) == 0
    assert len(got) == 4


def test_tail_changes_replay_is_idempotent_per_version(spark, tmp_path):
    """Crash BETWEEN process_batch and the progress stamp: the replay
    arrives with the SAME version id, so a txn-stamped sink table ends
    exactly-once — the stream_snapshot_sink contract composed over the
    consumer."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t, prog, out = tmp_path / "t", tmp_path / "progress", tmp_path / "out"
    snapshot_write(_df(spark, 0, 4, "a"), t)
    snapshot_append(_df(spark, 4, 6, "b"), t)

    def exactly_once_sink(df, ver):
        S.snapshot_append_once(
            df.where(F.col("_change_type") == "insert").drop("_change_type"),
            out, txn=ver, txn_app="sink",
        )

    S.snapshot_tail_changes(spark, t, prog, exactly_once_sink, max_versions=1)
    # simulate the crash: progress stamp lost — consume from scratch with
    # a FRESH progress table (the sink table is the survivor)
    prog2 = tmp_path / "progress2"
    S.snapshot_tail_changes(spark, t, prog2, exactly_once_sink)
    rows = {tuple(r) for r in snapshot_read(spark, out).collect()}
    assert rows == {(k, "a") for k in range(4)} | {(k, "b") for k in (4, 5)}
    assert snapshot_read(spark, out).count() == 6  # v1 replay was a no-op


# ---------------------------------------------------------------------------
# Column mapping: rename / drop / re-add without rewriting data
# ---------------------------------------------------------------------------


def test_column_mapping_rename_is_metadata_only(spark, tmp_path):
    """RENAME: logical name moves, zero data files rewritten, reads show
    the new name with the old values; time travel to a pre-rename
    version still shows the old name."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 5, "a"), t)
    v1 = current_version(t)
    files_before = set(S._read_manifest(t, v1)["files"])
    S.snapshot_enable_column_mapping(spark, t)
    S.snapshot_rename_column(t, "v", "label")
    m = S._read_manifest(t, current_version(t))
    assert set(m["files"]) == files_before  # no data rewritten
    got = snapshot_read(spark, t)
    assert got.columns == ["k", "label"]
    assert {r.label for r in got.collect()} == {"a"}
    # pre-mapping version reads under the original name
    assert snapshot_read(spark, t, version=v1).columns == ["k", "v"]


def test_column_mapping_drop_and_readd_never_resurrects(spark, tmp_path):
    """DROP retires the physical column; re-adding the SAME logical name
    allocates a fresh physical, so the dropped data reads as NULL — the
    corruption mode column mapping exists to prevent."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 4, "secret"), t)
    S.snapshot_enable_column_mapping(spark, t)
    S.snapshot_drop_column(t, "v")
    assert snapshot_read(spark, t).columns == ["k"]
    S.snapshot_add_column(t, "v", "string")
    got = snapshot_read(spark, t)
    assert got.columns == ["k", "v"]
    assert all(r.v is None for r in got.collect())  # never "secret"
    # physical namespace: the re-added column's physical is suffixed
    sch = S._read_manifest(t, current_version(t))["schema"]
    new_v = next(c for c in sch["cols"] if c["name"] == "v")
    assert new_v["physical"] != "v"
    assert any(r["physical"] == "v" for r in sch["retired"])


def test_column_mapping_writes_through_renamed_schema(spark, tmp_path):
    """Appends and upserts on a mapped table address columns by LOGICAL
    name; their files store the frozen physical names, so old and new
    files read as one table."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 3, "a"), t)
    S.snapshot_enable_column_mapping(spark, t)
    S.snapshot_rename_column(t, "v", "label")
    batch = spark.range(3, 5).select(
        F.col("id").alias("k"), F.lit("b").alias("label")
    )
    snapshot_append(batch, t)
    up = spark.range(0, 1).select(
        F.col("id").alias("k"), F.lit("z").alias("label")
    )
    snapshot_upsert(spark, up, t, ["k"])
    rows = {r.k: r.label for r in snapshot_read(spark, t).collect()}
    assert rows == {0: "z", 1: "a", 2: "a", 3: "b", 4: "b"}
    # a stale/unknown logical name fails loudly instead of forking
    with pytest.raises(KeyError, match="not in the table's column mapping"):
        snapshot_append(_df(spark, 9, 10, "x"), t)  # writes old name "v"


def test_column_mapping_survives_delta_chain_and_vacuum(spark, tmp_path):
    """The schema entry inherits through delta manifests and survives
    vacuum's checkpoint materialization."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 3, "a"), t)
    S.snapshot_enable_column_mapping(spark, t)
    S.snapshot_rename_column(t, "v", "label")
    for i in range(3):
        snapshot_append(
            spark.range(3 + i, 4 + i).select(
                F.col("id").alias("k"), F.lit("b").alias("label")
            ),
            t,
        )
    # the appends are delta manifests that INHERIT the schema
    raw = _raw_manifest(t, current_version(t))
    assert "delta" in raw and "schema" not in raw
    assert snapshot_read(spark, t).columns == ["k", "label"]
    snapshot_vacuum(t, keep_versions=2)
    assert snapshot_read(spark, t).columns == ["k", "label"]
    assert snapshot_read(spark, t).count() == 6


def test_parquet_checkpoint_sidecar_roundtrip(spark, tmp_path):
    """Checkpoints at or above CKPT_PARQUET_MIN_FILES encode per-file
    state as a parquet sidecar; resolution returns the same dict as the
    inline-JSON form, delta chains fold on top, and vacuum reclaims
    unreferenced sidecars."""
    import json as _json

    from energy_datalake_solution_spark.sources import snapshots as S

    t = S._table(tmp_path / "t")
    (t / "data" / "seed").mkdir(parents=True)
    n = S.CKPT_PARQUET_MIN_FILES + 10
    files = [f"data/seed/f{i:04d}.parquet" for i in range(n)]
    stats = {f: {"k": [i, i + 1], "__rows__": 2} for i, f in enumerate(files)}
    dv = {files[0]: S._pack_positions([0])}
    v = S._commit(t, files, 0, stats=stats, dv=dv, op="write")
    raw = _json.loads(S._manifest_path(t, v).read_text())
    assert "ckpt_parquet" in raw and "files" not in raw and "stats" not in raw
    sidecar = t / S._MANIFEST_DIR / raw["ckpt_parquet"]
    assert sidecar.exists()
    m = S._read_manifest(t, v)
    assert m["files"] == sorted(files)
    assert m["stats"] == stats
    assert m["dv"] == {files[0]: [1, dv[files[0]][1]]} or m["dv"] == dv
    # a delta on top folds against the sidecar-backed base
    v2 = S._commit(t, files + ["data/seed/x.parquet"], v,
                   stats={**stats, "data/seed/x.parquet": {"k": [0, 1], "__rows__": 2}},
                   dv=dv, op="append")
    assert "delta" in _json.loads(S._manifest_path(t, v2).read_text())
    m2 = S._read_manifest(t, v2)
    assert len(m2["files"]) == n + 1 and "data/seed/x.parquet" in m2["stats"]
    # vacuum keeps the referenced sidecar, reclaims orphans
    orphan = t / S._MANIFEST_DIR / "v9.deadbeef.ckpt.parquet"
    orphan.write_bytes(b"junk")
    S.snapshot_vacuum(t, keep_versions=2)
    assert sidecar.exists() and not orphan.exists()
    assert S._read_manifest(t, v2)["files"] == m2["files"]


def test_timestamp_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF: a ts captured between commits resolves to the
    version committed before it; a pre-table ts raises; version and
    as_of_ts are mutually exclusive."""
    import time

    import pytest

    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_append,
        snapshot_read,
        snapshot_version_as_of,
        snapshot_write,
    )

    t = tmp_path / "t"
    df1 = spark.range(5).withColumnRenamed("id", "k")
    v1 = snapshot_write(df1, t)
    time.sleep(0.01)
    v2 = snapshot_append(spark.range(5, 9).withColumnRenamed("id", "k"), t)
    # derive the mid-point from the manifests' OWN stamps: time.time()
    # between the commits can step backwards under NTP slew on a loaded
    # host (observed flake) — the stamps are the resolution's authority
    import json as _json

    from energy_datalake_solution_spark.sources.snapshots import (
        _manifest_path,
    )

    ts1 = _json.loads(_manifest_path(t, v1).read_text())["ts"]
    ts2 = _json.loads(_manifest_path(t, v2).read_text())["ts"]
    if not ts2 > ts1:
        pytest.skip("host clock regressed between commits (same-ms stamps)")
    t_mid = (ts1 + ts2) / 2
    assert snapshot_version_as_of(t, t_mid) == v1
    assert snapshot_read(spark, t, as_of_ts=t_mid).count() == 5
    assert snapshot_read(spark, t, as_of_ts=max(time.time(), ts2)).count() == 9
    with pytest.raises(FileNotFoundError):
        snapshot_version_as_of(t, 1.0)  # 1970: before every commit
    with pytest.raises(ValueError):
        snapshot_read(spark, t, version=v1, as_of_ts=t_mid)


def test_shallow_clone_reads_and_diverges(spark, tmp_path):
    """Shallow clone: zero data copied (clone's data/ dir empty), reads
    equal the source version, and writes to either side are invisible to
    the other."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_append,
        snapshot_clone,
        snapshot_read,
        snapshot_write,
    )

    src, dst = tmp_path / "src", tmp_path / "dst"
    snapshot_write(spark.range(10).withColumnRenamed("id", "k"), src)
    snapshot_clone(src, dst)
    assert sum(1 for d in (dst / "data").iterdir() for _ in d.iterdir()) == 0
    assert sorted(
        r.k for r in snapshot_read(spark, dst).collect()
    ) == list(range(10))
    # diverge the clone; source unchanged
    snapshot_append(spark.range(10, 13).withColumnRenamed("id", "k"), dst)
    assert snapshot_read(spark, dst).count() == 13
    assert snapshot_read(spark, src).count() == 10
    # advance the source; clone pinned to the captured manifest
    snapshot_append(spark.range(100, 105).withColumnRenamed("id", "k"), src)
    assert snapshot_read(spark, src).count() == 15
    assert snapshot_read(spark, dst).count() == 13


def test_shallow_clone_carries_deletion_vectors(spark, tmp_path):
    """A MOR-deleted source row stays deleted through the clone (dv keys
    are suffix-keyed so absolute inherited refs still match), and a MOR
    delete ON the clone's inherited files works without touching the
    source."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_clone,
        snapshot_delete_range_mor,
        snapshot_read,
        snapshot_write,
    )

    src, dst = tmp_path / "src", tmp_path / "dst"
    df = spark.range(100).withColumnRenamed("id", "k")
    snapshot_write(df, src, stats_cols=["k"], n_files=4)
    snapshot_delete_range_mor(spark, src, "k", 10, 19)
    snapshot_clone(src, dst)
    got = sorted(r.k for r in snapshot_read(spark, dst).collect())
    assert got == [k for k in range(100) if not (10 <= k <= 19)]
    # MOR delete on the clone: source must keep its own visible rows
    snapshot_delete_range_mor(spark, dst, "k", 50, 59)
    got_dst = sorted(r.k for r in snapshot_read(spark, dst).collect())
    assert got_dst == [
        k for k in range(100) if not (10 <= k <= 19) and not (50 <= k <= 59)
    ]
    got_src = sorted(r.k for r in snapshot_read(spark, src).collect())
    assert got_src == [k for k in range(100) if not (10 <= k <= 19)]


def test_clone_vacuum_never_deletes_source_files(spark, tmp_path):
    """The clone's vacuum scans only its OWN data/ dir: inherited source
    files survive any clone-side retention policy."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_append,
        snapshot_clone,
        snapshot_read,
        snapshot_vacuum,
        snapshot_write,
    )

    src, dst = tmp_path / "src", tmp_path / "dst"
    snapshot_write(spark.range(10).withColumnRenamed("id", "k"), src)
    snapshot_clone(src, dst)
    snapshot_append(spark.range(10, 12).withColumnRenamed("id", "k"), dst)
    snapshot_vacuum(dst, keep_versions=1)
    assert snapshot_read(spark, src).count() == 10
    assert snapshot_read(spark, dst).count() == 12


def test_mor_update_range(spark, tmp_path):
    """DV-based UPDATE: matched rows' positions join the vectors and the
    updated images append — no touched file rewritten; time travel shows
    the old values; the change feed reports delete(old)+insert(new);
    already-DV-deleted rows are not resurrected."""
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_change_feed,
        snapshot_delete_range_mor,
        snapshot_read,
        snapshot_update_range_mor,
        snapshot_write,
    )
    from pyspark.sql import functions as F

    t = tmp_path / "t"
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    snapshot_write(df, t, stats_cols=["k"], n_files=4)
    snapshot_delete_range_mor(spark, t, "k", 12, 13)
    v_before = current_version(t)
    files_before = set(_read_manifest(t, v_before)["files"])
    snapshot_update_range_mor(
        spark, t, "k", 10, 19, {"v": F.col("v") + 1}
    )
    m2 = _read_manifest(t, current_version(t))
    assert files_before <= set(m2["files"]), "MOR update rewrote a file"
    got = {r.k: r.v for r in snapshot_read(spark, t).collect()}
    assert len(got) == 98  # 12, 13 stay deleted
    for k in range(100):
        if k in (12, 13):
            assert k not in got
        elif 10 <= k <= 19:
            assert got[k] == k * 10 + 1
        else:
            assert got[k] == k * 10
    # time travel: pre-update version still shows old values
    old = {r.k: r.v for r in snapshot_read(spark, t, version=v_before).collect()}
    assert old[15] == 150
    # change feed: delete(old image) + insert(new image) for the band
    feed = snapshot_change_feed(spark, t, v_before).collect()
    dels = {(r.k, r.v) for r in feed if r._change_type == "delete"}
    ins = {(r.k, r.v) for r in feed if r._change_type == "insert"}
    want = [k for k in range(10, 20) if k not in (12, 13)]
    assert dels == {(k, k * 10) for k in want}
    assert ins == {(k, k * 10 + 1) for k in want}


def test_mor_update_wide_routes_to_cow(spark, tmp_path, monkeypatch):
    """An update wider than DV_MAX_DELETED_ROWS routes to copy-on-write:
    correct result, touched files rewritten, vectors not grown."""
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_read,
        snapshot_update_range_mor,
        snapshot_write,
    )
    from pyspark.sql import functions as F

    t = tmp_path / "t"
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    snapshot_write(df, t, stats_cols=["k"], n_files=4)
    from energy_datalake_solution_spark.sources import snapshots as S

    monkeypatch.setattr(S, "DV_MAX_DELETED_ROWS", 10)
    snapshot_update_range_mor(spark, t, "k", 0, 99, {"v": F.col("v") + 5})
    m = _read_manifest(t, current_version(t))
    assert not m.get("dv"), "wide update should not grow vectors"
    got = {r.k: r.v for r in snapshot_read(spark, t).collect()}
    assert got == {k: k * 10 + 5 for k in range(100)}


def test_restore_commits_new_version_with_old_content(spark, tmp_path):
    """RESTORE is a commit, not a pointer move: history stays linear, the
    change feed across the restore reports the reverted rows, time travel
    to intermediate versions still works, and vacuum keeps the restored
    (shared) files."""
    from energy_datalake_solution_spark.sources.snapshots import (
        current_version,
        snapshot_append,
        snapshot_change_feed,
        snapshot_history,
        snapshot_read,
        snapshot_restore,
        snapshot_vacuum,
        snapshot_write,
    )

    t = tmp_path / "t"
    v1 = snapshot_write(spark.range(10).withColumnRenamed("id", "k"), t)
    snapshot_append(spark.range(10, 15).withColumnRenamed("id", "k"), t)
    v3 = snapshot_append(spark.range(15, 18).withColumnRenamed("id", "k"), t)
    v4 = snapshot_restore(t, v1)
    assert v4 == v3 + 1 and current_version(t) == v4
    assert sorted(r.k for r in snapshot_read(spark, t).collect()) == list(range(10))
    # intermediate version still time-travels
    assert snapshot_read(spark, t, version=v3).count() == 18
    # change feed across the restore: exactly the reverted rows as deletes
    feed = snapshot_change_feed(spark, t, v3).collect()
    assert {r.k for r in feed if r._change_type == "delete"} == set(range(10, 18))
    assert not [r for r in feed if r._change_type == "insert"]
    # history is linear and the restore op is recorded
    hist = snapshot_history(t)
    assert hist[0]["op"] == "restore" and hist[0]["version"] == v4
    # restoring the tip is a no-op commit-wise
    assert snapshot_restore(t, v4) == v4
    # vacuum keeps the restored version's (shared) files
    snapshot_vacuum(t, keep_versions=1)
    assert sorted(r.k for r in snapshot_read(spark, t).collect()) == list(range(10))


def test_check_constraints_enforced_on_writes(spark, tmp_path):
    """ADD CONSTRAINT validates standing data, rejects violating batches
    on every write path (SQL semantics: only FALSE violates, NULL
    passes), survives delta-chain carry, and DROP CONSTRAINT lifts it."""
    import pytest
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        SnapshotConstraintViolation,
        snapshot_append,
        snapshot_drop_constraint,
        snapshot_read,
        snapshot_set_constraint,
        snapshot_update_range_mor,
        snapshot_upsert,
        snapshot_write,
    )

    t = tmp_path / "t"
    df = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    snapshot_write(df, t)
    snapshot_set_constraint(spark, t, "v_nonneg", "v >= 0")
    # a constraint the standing data violates is refused
    with pytest.raises(SnapshotConstraintViolation):
        snapshot_set_constraint(spark, t, "v_big", "v > 100")
    # violating append rejected; nothing committed
    bad = spark.createDataFrame([(99, -1)], "k long, v long")
    with pytest.raises(SnapshotConstraintViolation):
        snapshot_append(bad, t)
    assert snapshot_read(spark, t).count() == 10
    # violating upsert rejected
    with pytest.raises(SnapshotConstraintViolation):
        snapshot_upsert(spark, bad, t, ["k"])
    # violating MOR update rejected (the UPDATED image violates)
    with pytest.raises(SnapshotConstraintViolation):
        snapshot_update_range_mor(spark, t, "k", 0, 3, {"v": F.col("v") - 100})
    # NULL satisfies (SQL CHECK semantics)
    nullish = spark.createDataFrame([(50, None)], "k long, v long")
    snapshot_append(nullish, t)
    # satisfying writes pass; constraint survives several delta commits
    for i in range(3):
        snapshot_append(
            spark.createDataFrame([(100 + i, i)], "k long, v long"), t
        )
    with pytest.raises(SnapshotConstraintViolation):
        snapshot_append(bad, t)
    # drop lifts enforcement
    snapshot_drop_constraint(t, "v_nonneg")
    snapshot_append(bad, t)
    assert snapshot_read(spark, t).where("v < 0").count() == 1


def test_constraints_carry_through_clone_and_restore(spark, tmp_path):
    """A shallow clone inherits the source's CHECK constraints; RESTORE
    reinstates the restored version's constraint set."""
    import pytest
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        SnapshotConstraintViolation,
        snapshot_append,
        snapshot_clone,
        snapshot_drop_constraint,
        snapshot_restore,
        snapshot_set_constraint,
        snapshot_write,
    )

    src, dst = tmp_path / "src", tmp_path / "dst"
    snapshot_write(
        spark.range(5).select(F.col("id").alias("k"), F.col("id").alias("v")),
        src,
    )
    v_con = snapshot_set_constraint(spark, src, "v_nonneg", "v >= 0")
    snapshot_clone(src, dst)
    bad = spark.createDataFrame([(9, -1)], "k long, v long")
    with pytest.raises(SnapshotConstraintViolation):
        snapshot_append(bad, dst)
    # drop on the source, then RESTORE to the constrained version
    snapshot_drop_constraint(src, "v_nonneg")
    snapshot_append(bad, src)  # passes while dropped
    snapshot_restore(src, v_con)
    with pytest.raises(SnapshotConstraintViolation):
        snapshot_append(bad, src)


def test_rename_drop_refuse_constraint_referenced_columns(spark, tmp_path):
    """RENAME/DROP COLUMN refuse while a CHECK constraint references the
    column (a silent rename would strand the constraint on a dead name
    and fail every later write confusingly — Delta refuses too); after
    dropping the constraint the DDL proceeds."""
    import pytest
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_drop_column,
        snapshot_drop_constraint,
        snapshot_enable_column_mapping,
        snapshot_read,
        snapshot_rename_column,
        snapshot_set_constraint,
        snapshot_write,
    )

    t = tmp_path / "t"
    snapshot_write(
        spark.range(5).select(F.col("id").alias("k"), F.col("id").alias("v")),
        t,
    )
    snapshot_enable_column_mapping(spark, t)
    snapshot_set_constraint(spark, t, "v_nonneg", "v >= 0")
    with pytest.raises(ValueError, match="v_nonneg"):
        snapshot_rename_column(t, "v", "value")
    with pytest.raises(ValueError, match="v_nonneg"):
        snapshot_drop_column(t, "v")
    snapshot_drop_constraint(t, "v_nonneg")
    snapshot_rename_column(t, "v", "value")
    assert snapshot_read(spark, t).columns == ["k", "value"]


def test_two_writer_threaded_mor_updates_compose(spark, tmp_path):
    """Two threads MOR-updating DISJOINT key ranges concurrently: the
    optimistic rebase must land both — each range's rows carry its own
    increment exactly once, deletion vectors from both commits survive,
    and no standing file was lost."""
    import threading

    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_update_range_mor,
        snapshot_write,
    )

    t = tmp_path / "t"
    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    snapshot_write(df, t, stats_cols=["k"], n_files=4)
    barrier = threading.Barrier(2)
    errors = []
    bands = {0: (10, 39), 1: (110, 139)}

    def writer(writer_id: int):
        try:
            barrier.wait()
            lo, hi = bands[writer_id]
            snapshot_update_range_mor(
                spark, t, "k", lo, hi, {"v": F.col("v") + 1 + writer_id}
            )
        except Exception as e:  # noqa: BLE001 - surfaced via assert below
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    got = {r.k: r.v for r in snapshot_read(spark, t).collect()}
    assert len(got) == 200
    for k in range(200):
        if 10 <= k <= 39:
            assert got[k] == k * 10 + 1, k
        elif 110 <= k <= 139:
            assert got[k] == k * 10 + 2, k
        else:
            assert got[k] == k * 10, k


def test_mor_update_on_column_mapped_table(spark, tmp_path, monkeypatch):
    """MOR UPDATE speaks LOGICAL names on a column-mapped table: prune on
    the physical key, evaluate assignments against logical columns, write
    the appended images under physical names — across a rename."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_enable_column_mapping,
        snapshot_read,
        snapshot_rename_column,
        snapshot_update_range_mor,
        snapshot_write,
    )

    t = tmp_path / "t"
    df = spark.range(60).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    snapshot_write(df, t, stats_cols=["k"], n_files=3)
    snapshot_enable_column_mapping(spark, t)
    snapshot_rename_column(t, "v", "price")
    files_before = set(
        _read_manifest(t, current_version(t))["files"]
    )
    snapshot_update_range_mor(
        spark, t, "k", 10, 19, {"price": F.col("price") + 7}
    )
    m = _read_manifest(t, current_version(t))
    assert files_before <= set(m["files"]), "mapped MOR update rewrote files"
    got = {r.k: r.price for r in snapshot_read(spark, t).collect()}
    assert len(got) == 60
    for k in range(60):
        assert got[k] == k * 10 + (7 if 10 <= k <= 19 else 0), k
    # wide (CoW) route on the mapped table too
    from energy_datalake_solution_spark.sources import snapshots as S

    monkeypatch.setattr(S, "DV_MAX_DELETED_ROWS", 5)
    snapshot_update_range_mor(
        spark, t, "k", 0, 59, {"price": F.col("price") + 1},
    )
    got = {r.k: r.price for r in snapshot_read(spark, t).collect()}
    for k in range(60):
        assert got[k] == k * 10 + 1 + (7 if 10 <= k <= 19 else 0), k


def test_deletes_speak_logical_names_on_mapped_tables(spark, tmp_path):
    """CoW and MOR range DELETEs accept the LOGICAL column name on a
    column-mapped table (pruning and scanning under the physical name),
    across a rename."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_delete_range,
        snapshot_delete_range_mor,
        snapshot_enable_column_mapping,
        snapshot_read,
        snapshot_rename_column,
        snapshot_write,
    )

    t = tmp_path / "t"
    df = spark.range(80).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    snapshot_write(df, t, stats_cols=["k"], n_files=4)
    snapshot_enable_column_mapping(spark, t)
    snapshot_rename_column(t, "k", "key")
    snapshot_delete_range_mor(spark, t, "key", 10, 19)
    got = sorted(r.key for r in snapshot_read(spark, t).collect())
    assert got == [k for k in range(80) if not 10 <= k <= 19]
    snapshot_delete_range(spark, t, "key", 50, 59)
    got = sorted(r.key for r in snapshot_read(spark, t).collect())
    assert got == [
        k for k in range(80) if not 10 <= k <= 19 and not 50 <= k <= 59
    ]


def test_pruned_reads_speak_logical_names_on_mapped_tables(spark, tmp_path):
    """snapshot_read(where=...) takes logical names on a mapped table
    (pruning on the physical key) and returns logically-named frames,
    across a rename — for a range and for a 2-column rectangle."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_enable_column_mapping,
        snapshot_read,
        snapshot_rename_column,
        snapshot_write,
    )

    t = tmp_path / "t"
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    snapshot_write(df, t, stats_cols=["k"], n_files=4)
    snapshot_enable_column_mapping(spark, t)
    snapshot_rename_column(t, "k", "key")
    rr = snapshot_read(spark, t, where=[{"key": (20, 29)}])
    assert rr.columns == ["key", "v"]
    assert sorted(r.key for r in rr.collect()) == list(range(20, 30))
    rect = snapshot_read(spark, t, where=[{"key": (20, 29), "v": (250, 279)}])
    assert rect.columns == ["key", "v"]
    assert sorted(r.key for r in rect.collect()) == [25, 26, 27]


def test_partitioned_upsert_speaks_logical_names_on_mapped_tables(spark, tmp_path):
    """snapshot_upsert_partitioned accepts logical key/partition names on
    a mapped table across a rename; untouched partitions stay
    byte-identical and reads surface logical names."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_enable_column_mapping,
        snapshot_read,
        snapshot_rename_column,
        snapshot_upsert_partitioned,
    )

    t = tmp_path / "t"
    df = spark.range(60).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        (F.col("id") % 3).cast("int").alias("part"),
    )
    snapshot_upsert_partitioned(spark, df, t, ["k"], "part")
    snapshot_enable_column_mapping(spark, t)
    snapshot_rename_column(t, "part", "bucket")
    m1 = _read_manifest(t, current_version(t))
    batch = spark.range(6).select(
        (F.col("id") * 3).alias("k"),       # all bucket-0 keys
        (F.col("id") * 3 * 10 + 5).alias("v"),
        F.lit(0).cast("int").alias("bucket"),
    )
    snapshot_upsert_partitioned(spark, batch, t, ["k"], "bucket")
    m2 = _read_manifest(t, current_version(t))
    # untouched = every file whose partition stat max != 0; the stats key
    # is the frozen PHYSICAL name of the renamed "bucket" column
    part_stat_key = [k for k in next(iter(m1["stats"].values())) if k not in ("__rows__",) and k != "k"][0]
    untouched = {
        f for f, s in m1["stats"].items()
        if s.get(part_stat_key) and s[part_stat_key][1] != 0
    }
    assert untouched <= set(m2["files"]), "untouched partitions rewritten"
    got = snapshot_read(spark, t)
    assert set(got.columns) == {"k", "v", "bucket"}
    rows = {r.k: r.v for r in got.collect()}
    for i in range(6):
        assert rows[i * 3] == i * 3 * 10 + 5
    assert rows[1] == 10 and rows[2] == 20


def test_write_with_stats_speaks_logical_names_on_mapped_tables(spark, tmp_path):
    """Regression: snapshot_write(..., stats_cols=...) on a column-mapped table must
    translate to PHYSICAL space like every other writer — files written
    under logical names read back as NULL through the mapping, and stats
    keyed by logical names prune nothing (the data files only carry the
    frozen physical names)."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        snapshot_enable_column_mapping,
        snapshot_files,
        snapshot_rename_column,
        snapshot_write,
    )

    t = tmp_path / "t"
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    snapshot_write(df, t, stats_cols=["k"], n_files=4)
    snapshot_enable_column_mapping(spark, t)
    snapshot_rename_column(t, "k", "key")
    # full-replace WITH STATS through the logical namespace
    df2 = spark.range(200).select(
        F.col("id").alias("key"), (F.col("id") * 7).alias("v")
    )
    snapshot_write(df2, t, stats_cols=["key"], n_files=4)
    got = snapshot_read(spark, t)
    assert set(got.columns) == {"key", "v"}
    rows = {r.key: r.v for r in got.collect()}
    assert len(rows) == 200 and None not in rows  # no NULL-surfacing
    assert rows[42] == 294
    # stats landed under the frozen PHYSICAL name (the only name the data
    # files carry): pruning on the logical name selects a strict subset
    m = _read_manifest(t, current_version(t))
    assert len(m["files"]) == 4
    phys = next(
        c["physical"] for c in m["schema"]["cols"] if c["name"] == "key"
    )
    assert all(phys in s for s in m["stats"].values())
    pruned = snapshot_files(t, [{"key": (10, 20)}])
    assert 0 < len(pruned) < 4


def test_version_as_of_ignores_orphans_and_rolled_over_versions(spark, tmp_path):
    """Regression: TIMESTAMP AS OF resolves along the tip's PARENT CHAIN.
    A losing racer's orphan manifest and a rolled-over (rollback + new
    commit) version sit on disk with valid ts stamps but are NOT committed
    history — resolving to either hands out files vacuum may delete."""
    import json
    import time

    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "t"
    v1 = snapshot_write(_df(spark, 0, 5, "a"), t)  # v1
    snapshot_append(_df(spark, 5, 8, "b"), t)      # v2 (will be rolled over)
    snapshot_rollback(t, v1)
    t_mid = time.time()
    time.sleep(0.01)
    v3 = snapshot_append(_df(spark, 8, 10, "c"), t)  # parent = v1, skips v2
    # orphan: a stale writer publishes its manifest, then loses the race
    p = S._table(t)
    stale = S._write_files(_df(spark, 100, 102, "stale"), p)
    snapshot_append(_df(spark, 50, 52, "racer"), t)  # racer wins -> v5 tip
    with pytest.raises(S.SnapshotCommitConflict):
        S._commit(p, stale, parent=v3)
    tip = current_version(t)
    orphan_versions = {
        int(f.stem[1:])
        for f in (p / "_manifests").glob("v*.json")
    } - set(_chain_versions(p, tip))
    assert orphan_versions, "test setup must leave orphans on disk"
    # t_mid sits after rolled-over v2's ts but before v3's: the chain
    # resolves to v1 (v2 is not history); the old glob returned v2
    assert S.snapshot_version_as_of(t, t_mid) == v1
    # now: resolves to the TIP, never the orphan (orphan ts is newest)
    assert S.snapshot_version_as_of(t, time.time()) == tip
    assert snapshot_read(spark, t, as_of_ts=t_mid).count() == 5


def test_history_reads_the_pointer_once(spark, tmp_path, monkeypatch):
    """DESCRIBE HISTORY marks exactly one entry current even when the
    pointer moves while it lists the manifests (here a rollback lands
    right after the first pointer read): the pointer is read once."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "t"
    for i in range(3):
        snapshot_append(_df(spark, i, i + 1, "a"), t)
    real = S.current_version

    def racing(p):
        v = real(p)
        if v == 3:
            snapshot_rollback(t, 2)
        return v

    monkeypatch.setattr(S, "current_version", racing)
    assert [h["version"] for h in S.snapshot_history(t) if h["current"]] \
        == [3]


def test_commit_stamp_never_postdates_the_commit(spark, tmp_path,
                                                 monkeypatch):
    """The manifest's ts is floored to the millisecond, never rounded up:
    TIMESTAMP AS OF a clock reading taken as the commit returns finds the
    version (a stamp rounded up to the next millisecond found none)."""
    import json
    import math
    import time

    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "t"
    p = S._table(t)
    files = S._write_files(_df(spark, 0, 3, "a"), p)
    x = math.floor(time.time()) + 0.0006
    with monkeypatch.context() as mp:
        mp.setattr(time, "time", lambda: x)
        v = S._commit(p, files, parent=0)
    ts = json.loads(S._manifest_path(p, v).read_text())["ts"]
    assert ts <= x
    assert S.snapshot_version_as_of(t, x) == v


def _chain_versions(p, tip):
    import json as _json

    out, v = [], tip
    while v > 0:
        out.append(v)
        raw = _json.loads((p / "_manifests" / f"v{v}.json").read_text())
        v = int(raw.get("parent", 0))
    return out


def test_restore_clears_metadata_absent_in_target(spark, tmp_path):
    """Regression: RESTORE to a version that PREDATES column mapping /
    CHECK constraints must commit withOUT them (None means
    inherit-from-parent in _commit, so restore passes an explicit CLEAR).
    After the restore: reads surface the ORIGINAL column names and a
    batch violating the later constraint commits fine."""
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        snapshot_enable_column_mapping,
        snapshot_rename_column,
        snapshot_restore,
        snapshot_set_constraint,
    )

    t = tmp_path / "t"
    v1 = snapshot_write(_df(spark, 0, 10, "a"), t)
    snapshot_enable_column_mapping(spark, t)
    snapshot_rename_column(t, "v", "label")
    snapshot_set_constraint(spark, t, "k_small", "k < 1000")
    vr = snapshot_restore(t, v1)
    m = _read_manifest(t, vr)
    assert not m.get("schema"), "restore must clear postdating column mapping"
    assert not m.get("constraints"), "restore must clear postdating constraints"
    got = snapshot_read(spark, t)
    assert set(got.columns) == {"k", "v"}  # original names, not 'label'
    snapshot_append(_df(spark, 5000, 5002, "big"), t)  # violates k_small
    assert snapshot_read(spark, t).count() == 12


def test_restore_rebases_on_concurrent_commit(spark, tmp_path, monkeypatch):
    """The docstring's conflict-and-rebase contract: a restore that loses
    the pointer race recommits the SAME target content on the new tip
    instead of raising (restore-whatever-wins semantics)."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "t"
    v1 = snapshot_write(_df(spark, 0, 5, "a"), t)
    snapshot_append(_df(spark, 5, 8, "b"), t)
    real_commit = S._commit
    state = {"injected": False}

    def racing_commit(p_, files_, parent_, **kw):
        if not state["injected"]:
            state["injected"] = True
            snapshot_append(_df(spark, 100, 103, "racer"), t)
        return real_commit(p_, files_, parent_, **kw)

    monkeypatch.setattr(S, "_commit", racing_commit)
    vr = S.snapshot_restore(t, v1)
    monkeypatch.undo()
    assert vr == current_version(t)
    got = {(r.k, r.v) for r in snapshot_read(spark, t).collect()}
    assert got == {(k, "a") for k in range(5)}  # exactly v1's content
    m = S._read_manifest(S._table(t), vr)
    assert m.get("op") == "restore"


def test_type_widening_append_records_types_without_rewrite(spark, tmp_path):
    """int->long / float->double widening on append: the old files stay in
    the manifest byte-identical, the manifest records the widened logical
    types, and reads surface the wide types with values intact — including
    a value beyond int32 range landing next to INT32 files."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
    )

    t = tmp_path / "t"
    narrow = spark.range(10).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 1.5).cast("float").alias("v"),
    )
    snapshot_write(narrow, t)
    m1 = _read_manifest(t, current_version(t))
    assert "types" not in m1 or not m1.get("types")
    wide = spark.createDataFrame(
        [(2**40, 2.5), (2**40 + 1, 3.5)], "k long, v double"
    )
    snapshot_append(wide, t)
    m2 = _read_manifest(t, current_version(t))
    assert set(m1["files"]) <= set(m2["files"]), "append must not rewrite"
    assert m2["types"] == {"k": "bigint", "v": "double"}
    got = snapshot_read(spark, t)
    assert dict(got.dtypes) == {"k": "bigint", "v": "double"}
    rows = {r.k: r.v for r in got.collect()}
    assert len(rows) == 12 and rows[2**40] == 2.5
    assert rows[3] == float(spark.sql("select cast(4.5 as float)").first()[0])


def test_type_widening_upcasts_narrow_batches_on_write(spark, tmp_path):
    """After widening, a NARROWER batch (int/float) upcasts before its
    files are written — the table's logical type is monotone and later
    reads need no per-file surprises beyond the recorded map."""
    from pyspark.sql import functions as F

    t = tmp_path / "t"
    snapshot_write(
        spark.range(5).select(F.col("id").cast("long").alias("k")), t
    )
    # bootstrap: narrow batch against a WIDE table upcasts silently, no
    # types metadata needed (files are all long already)
    snapshot_append(
        spark.range(5, 8).select(F.col("id").cast("int").alias("k")), t
    )
    got = snapshot_read(spark, t)
    assert dict(got.dtypes) == {"k": "bigint"}
    assert sorted(r.k for r in got.collect()) == list(range(8))


def test_type_widening_survives_pruned_upsert_and_change_feed(spark, tmp_path):
    """Widen-then-upsert across a stats-pruned table: untouched INT32
    files carry byte-identical, the merge runs at the wide type, and the
    change feed across the widened window aligns schemas instead of
    raising a merge conflict."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        snapshot_change_feed,
        snapshot_upsert,
    )

    t = tmp_path / "t"
    base = spark.range(100).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 10).cast("float").alias("v"),
    )
    snapshot_upsert(spark, base, t, ["k"], seed_stats_files=4)
    v1 = current_version(t)
    # a LONG-typed batch with a tight key range: widening triggers on the
    # TYPE, pruning still carries the out-of-range int32 files untouched
    batch = spark.createDataFrame([(5, 555.0), (7, 777.0)], "k long, v double")
    snapshot_upsert(spark, batch, t, ["k"])
    m2 = _read_manifest(t, current_version(t))
    assert m2["types"] == {"k": "bigint", "v": "double"}
    # pruning: some int32 seed files carried untouched
    m1 = _read_manifest(t, v1)
    assert set(m1["files"]) & set(m2["files"]), "pruned upsert carried nothing"
    got = {r.k: r.v for r in snapshot_read(spark, t).collect()}
    assert len(got) == 100 and got[5] == 555.0 and got[7] == 777.0
    assert got[70] == 700.0
    # change feed across the widened window: net insert of the 2 updated
    # images, net delete of their old ones
    cf = snapshot_change_feed(spark, t, v1, current_version(t))
    ins = {r.k for r in cf.where("_change_type = 'insert'").collect()}
    dels = {r.k for r in cf.where("_change_type = 'delete'").collect()}
    assert ins == {5, 7} and dels == {5, 7}


def test_type_widening_rejects_incompatible_change(spark, tmp_path):
    from pyspark.sql import functions as F

    t = tmp_path / "t"
    snapshot_write(spark.range(3).select(F.col("id").alias("k")), t)
    bad = spark.createDataFrame([("x",)], "k string")
    with pytest.raises(ValueError, match="incompatible type change"):
        snapshot_append(bad, t)


def test_type_widening_reads_timestamp_kinds_from_spark_footers(spark, tmp_path):
    """A Spark footer types its columns by the schema Spark wrote, so a
    ``timestamp_ntz`` column is not mistaken for ``timestamp`` (the
    parquet types alone cannot tell them apart): an append to an ntz
    table lands, a tz-aware table still appends, and int -> bigint
    widening still records."""
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
    )

    def batch(k, kind):
        return spark.sql(
            f"select {k} k, cast('2024-01-01 10:00:00' as {kind}) ts"
        )

    for kind in ("timestamp_ntz", "timestamp"):
        t = tmp_path / kind
        snapshot_write(batch(1, kind), t)
        snapshot_append(batch(2, kind), t)
        got = snapshot_read(spark, t)
        assert dict(got.dtypes)["ts"] == kind
        assert sorted(r.k for r in got.collect()) == [1, 2]
        assert not _read_manifest(t, current_version(t)).get("types")

    t = tmp_path / "widen"
    snapshot_write(batch("cast(1 as int)", "timestamp_ntz"), t)
    snapshot_append(batch("cast(2 as bigint)", "timestamp_ntz"), t)
    assert _read_manifest(t, current_version(t))["types"] == {
        "k": "bigint", "ts": "timestamp_ntz",
    }
    assert sorted(r.k for r in snapshot_read(spark, t).collect()) == [1, 2]


def test_type_widening_restore_clears_postdating_map(spark, tmp_path):
    """RESTORE to a pre-widening version drops the types map (the CLEAR
    sentinel), so the restored table reads at its original narrow types."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        snapshot_restore,
    )

    t = tmp_path / "t"
    snapshot_write(spark.range(5).select(F.col("id").cast("int").alias("k")), t)
    v1 = current_version(t)
    snapshot_append(spark.createDataFrame([(2**40,)], "k long"), t)
    assert _read_manifest(t, current_version(t))["types"] == {"k": "bigint"}
    vr = snapshot_restore(t, v1)
    assert not _read_manifest(t, vr).get("types")
    assert dict(snapshot_read(spark, t).dtypes) == {"k": "int"}


def test_change_feed_updates_as_updates_pairs_images(spark, tmp_path):
    """updates_as='updates': a MOR update's rows report as
    update_preimage/update_postimage PAIRS (matched through the reserved
    provenance columns its append carries), while plain inserts and
    deletes in the same window keep their types — and the default
    netflow mode still reports delete+insert."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_change_feed,
        snapshot_delete_range_mor,
        snapshot_update_range_mor,
        snapshot_write,
    )

    t = tmp_path / "t"
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    snapshot_write(df, t, stats_cols=["k"], n_files=4)
    v1 = current_version(t)
    snapshot_update_range_mor(spark, t, "k", 10, 14, {"v": F.col("v") + 1})
    v2 = current_version(t)
    snapshot_append(spark.createDataFrame([(500, 5)], "k long, v long"), t)
    snapshot_delete_range_mor(spark, t, "k", 90, 92)
    v4 = current_version(t)

    cf = snapshot_change_feed(spark, t, v1, v4, updates_as="updates")
    rows = {(r.k, r.v, r._change_type) for r in cf.collect()}
    want = (
        {(k, k * 10, "update_preimage") for k in range(10, 15)}
        | {(k, k * 10 + 1, "update_postimage") for k in range(10, 15)}
        | {(500, 5, "insert")}
        | {(k, k * 10, "delete") for k in (90, 91, 92)}
    )
    assert rows == want
    # provenance never leaks into reads
    assert set(snapshot_read(spark, t).columns) == {"k", "v"}
    # default mode unchanged: delete+insert netflow
    nf = snapshot_change_feed(spark, t, v1, v2)
    types = {r._change_type for r in nf.collect()}
    assert types == {"insert", "delete"}
    assert nf.count() == 10


def test_change_feed_updates_mode_degrades_without_pairing(spark, tmp_path):
    """An update whose postimages survive but whose ORIGIN files left the
    kept set (compaction rewrote them within the window) must fall back
    to insert/delete — pairing never silently drops a change."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_change_feed,
        snapshot_compact,
        snapshot_update_range_mor,
        snapshot_write,
    )

    t = tmp_path / "t"
    df = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    snapshot_write(df, t, stats_cols=["k"], n_files=4)
    v1 = current_version(t)
    snapshot_update_range_mor(spark, t, "k", 5, 7, {"v": F.col("v") + 1})
    snapshot_compact(spark, t, target_files=2, stats_cols=["k"])
    v3 = current_version(t)
    cf = snapshot_change_feed(spark, t, v1, v3, updates_as="updates")
    rows = {(r.k, r.v, r._change_type) for r in cf.collect()}
    # compaction stripped provenance and rewrote everything the netflow
    # way: the update still shows as delete(old)+insert(new)
    assert (5, 50, "delete") in rows and (5, 51, "insert") in rows
    assert not any(ct.startswith("update_") for _, _, ct in rows)
    # and the final state is intact
    got = {r.k: r.v for r in snapshot_read(spark, t).collect()}
    assert got[5] == 51 and got[8] == 80 and len(got) == 50


def test_tail_changes_updates_mode_delivers_paired_batches(spark, tmp_path):
    """The streaming change consumer passes updates_as through: a MOR
    update's version arrives as one batch of paired
    update_preimage/update_postimage rows."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_tail_changes,
        snapshot_update_range_mor,
        snapshot_write,
    )

    t, prog = tmp_path / "t", tmp_path / "prog"
    df = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    snapshot_write(df, t, stats_cols=["k"], n_files=4)
    snapshot_update_range_mor(spark, t, "k", 3, 5, {"v": F.col("v") + 7})
    seen = {}

    def consume(batch, ver):
        seen[ver] = sorted(
            (r.k, r.v, r._change_type) for r in batch.collect()
        )

    n = snapshot_tail_changes(
        spark, t, prog, consume, updates_as="updates"
    )
    assert n == 2
    v_upd = max(seen)
    assert seen[v_upd] == sorted(
        [(k, k * 10, "update_preimage") for k in (3, 4, 5)]
        + [(k, k * 10 + 7, "update_postimage") for k in (3, 4, 5)]
    )


def test_vacuum_checkpoint_materialization_keeps_widened_types(spark, tmp_path):
    """Regression (caught by the round-9 torture test): vacuum's
    checkpoint materialization must carry the ``types`` map — dropping
    it leaves a version whose mixed-width files read with a single
    footer's inferred schema (INT64 files under an int expectation crash;
    worse, the opposite inference order would silently pass)."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "t"
    snapshot_write(
        spark.range(20).selectExpr("cast(id as int) k", "cast(id as int) v"), t
    )
    snapshot_append(spark.createDataFrame([(2**40, 1)], "k long, v long"), t)
    # force many delta hops, then a vacuum whose retention window makes
    # kept versions' chains escape (materialization path)
    for i in range(S.CHECKPOINT_EVERY + 2):
        snapshot_append(
            spark.createDataFrame([(1000 + i, i)], "k long, v long"), t
        )
    snapshot_vacuum(t, keep_versions=2)
    tip = current_version(t)
    for v in (tip - 1, tip):
        m = S._read_manifest(t, v)
        assert m.get("types") == {"k": "bigint", "v": "bigint"}, f"v{v}"
        got = snapshot_read(spark, t, version=v)
        assert dict(got.dtypes)["k"] == "bigint"
        ks = {r.k for r in got.collect()}
        assert 2**40 in ks and 0 in ks


def test_mor_delete_and_update_on_widened_table(spark, tmp_path):
    """r10 ADVICE regression: the MOR delete/update tag scans read their
    touched files under the manifest's widened-types explicit schema —
    a widened table whose file set mixes INT32 and INT64 footers must
    not throw Spark's failed-to-merge error (mergeSchema treats mixed
    widths as a conflict; single-footer inference crashes on the other
    width)."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_delete_range_mor,
        snapshot_update_range_mor,
    )

    t = tmp_path / "t"
    narrow = spark.range(10).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 10).cast("float").alias("v"),
    )
    snapshot_write(narrow, t)
    wide = spark.createDataFrame([(2**40, 1.5)], "k long, v double")
    snapshot_append(wide, t)  # widen: types map {k: bigint, v: double}
    # MOR delete spanning BOTH an int32 file and the int64 file
    snapshot_delete_range_mor(spark, t, "k", 8, 2**40)
    got = sorted(r.k for r in snapshot_read(spark, t).collect())
    assert got == list(range(8))
    # MOR update over the surviving int32 rows
    snapshot_update_range_mor(spark, t, "k", 5, 7, {"v": F.lit(999.0)})
    rows = {r.k: r.v for r in snapshot_read(spark, t).collect()}
    assert rows[5] == 999.0 and rows[6] == 999.0 and rows[7] == 999.0
    assert rows[0] == 0.0 and len(rows) == 8


def test_change_feed_updates_mode_on_widened_table(spark, tmp_path):
    """r10 ADVICE regression: the change feed's grown-DV-delta and
    prov-added reads honor the widened-types map (explicit schema with
    the provenance columns appended for the pairing read)."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_change_feed,
        snapshot_update_range_mor,
    )

    t = tmp_path / "t"
    snapshot_write(
        spark.range(10).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 10).cast("float").alias("v"),
        ),
        t,
    )
    snapshot_append(spark.createDataFrame([(2**40, 1.5)], "k long, v double"), t)
    v_pre = current_version(t)
    snapshot_update_range_mor(spark, t, "k", 3, 4, {"v": F.lit(111.0)})
    cf = snapshot_change_feed(spark, t, v_pre, updates_as="updates")
    by_type = {
        ct: {r.k for r in cf.where(cf._change_type == ct).collect()}
        for ct in ("update_preimage", "update_postimage")
    }
    assert by_type["update_preimage"] == {3, 4}
    assert by_type["update_postimage"] == {3, 4}
    assert "_prov_fp" not in cf.columns and "_prov_ri" not in cf.columns


def test_full_replace_with_stats_clears_stale_types_map(spark, tmp_path):
    """r10 ADVICE regression: a full replace (every snapshot_write
    layout, committed through _transact) CLEARS the widened types map —
    a full replace whose batch ADDS a
    column on a previously-widened table must surface the new column
    (a stale map as explicit read schema would silently drop it)."""
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        snapshot_write,
    )

    t = tmp_path / "t"
    snapshot_write(
        spark.range(5).select(F.col("id").cast("int").alias("k")), t
    )
    snapshot_append(spark.createDataFrame([(2**40,)], "k long"), t)
    assert _read_manifest(t, current_version(t))["types"] == {"k": "bigint"}
    replacement = spark.range(3).select(
        F.col("id").alias("k"), F.lit("new").alias("extra")
    )
    snapshot_write(replacement, t, stats_cols=["k"])
    m = _read_manifest(t, current_version(t))
    assert not m.get("types"), "full replace must clear the widened map"
    got = snapshot_read(spark, t)
    assert sorted(got.columns) == ["extra", "k"]
    assert {r.extra for r in got.collect()} == {"new"}


def test_purge_dv_rewrites_only_dirty_files(spark, tmp_path):
    """REORG APPLY (PURGE): files carrying deletion vectors rewrite
    (dead rows physically dropped, vectors cleared), clean files stay
    byte-identical, content is unchanged, pre-purge versions still
    time-travel WITH their vectors, and a vector-free table is a
    version-level no-op."""
    import hashlib

    from energy_datalake_solution_spark.sources.snapshot_catalog import (
        SnapshotCatalog,
    )
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_delete_range_mor,
        snapshot_purge_dv,
        snapshot_read,
        snapshot_write,
    )

    t = tmp_path / "t"
    snapshot_write(
        spark.range(100).selectExpr("id AS k", "id * 10 AS v"), t,
        stats_cols=["k"], n_files=4,
    )  # k-ranges [0,24] [25,49] [50,74] [75,99]
    snapshot_delete_range_mor(spark, t, "k", 10, 19)  # DV on file 1 only
    v_pre = current_version(t)
    m_pre = _read_manifest(t, v_pre)
    assert m_pre.get("dv"), "precondition: a deletion vector exists"
    hashes_pre = {
        f: hashlib.sha256((t / f).read_bytes()).hexdigest()
        for f in m_pre["files"]
    }
    dirty = {
        f for f in m_pre["files"]
        if any(f.endswith(k.split("/")[-1]) for k in m_pre["dv"])
    }
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE pg USING snapshot LOCATION '{t}'")
    cat.sql("REORG TABLE pg APPLY (PURGE)")
    v_post = current_version(t)
    assert v_post == v_pre + 1
    m_post = _read_manifest(t, v_post)
    assert not (m_post.get("dv") or {}), "vectors must clear"
    kept = set(m_post["files"]) & set(m_pre["files"])
    assert kept == set(m_pre["files"]) - dirty, "only dirty files rewrite"
    for f in kept:
        assert hashlib.sha256(
            (t / f).read_bytes()
        ).hexdigest() == hashes_pre[f], "clean file mutated"
    got = {r.k for r in snapshot_read(spark, t).collect()}
    assert got == set(range(100)) - set(range(10, 20))
    # rewritten files carry stats for the tracked column
    new = set(m_post["files"]) - kept
    assert new and all("k" in m_post["stats"][f] for f in new)
    # pre-purge version still applies its vectors
    assert snapshot_read(spark, t, version=v_pre).count() == 90
    # no-op on a vector-free table
    assert snapshot_purge_dv(spark, t) == v_post
    assert current_version(t) == v_post


def test_purge_then_vacuum_reclaims_replaced_files(spark, tmp_path):
    """PURGE + VACUUM interplay: after a purge, the pre-purge version
    still reads (vectors intact) until vacuum drops it; vacuum then
    deletes the replaced dirty files and the purged tip keeps reading
    the full content."""
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_delete_range_mor,
        snapshot_purge_dv,
        snapshot_read,
        snapshot_vacuum,
        snapshot_write,
    )

    t = tmp_path / "t"
    snapshot_write(
        spark.range(100).selectExpr("id AS k"), t, stats_cols=["k"], n_files=4,
    )
    snapshot_delete_range_mor(spark, t, "k", 0, 30)
    v_pre = current_version(t)
    pre_files = set(_read_manifest(t, v_pre)["files"])
    snapshot_purge_dv(spark, t)
    v_post = current_version(t)
    replaced = pre_files - set(_read_manifest(t, v_post)["files"])
    assert replaced, "purge must have replaced the dirty files"
    assert snapshot_read(spark, t, version=v_pre).count() == 69
    deleted = set(snapshot_vacuum(t, keep_versions=1))
    assert replaced <= deleted, "vacuum must reclaim the replaced files"
    assert {r.k for r in snapshot_read(spark, t).collect()} == set(
        range(31, 100)
    )


def test_copy_into_races_concurrent_append(spark, tmp_path):
    """COPY INTO's commit rebases over a concurrent append: both the
    appended rows and the copied files land, and the per-file ledger
    survives the rebase (a rerun is still a no-op)."""
    import threading

    import pandas as pd

    from energy_datalake_solution_spark.sources import snapshots as S
    from energy_datalake_solution_spark.sources.snapshots import (
        current_version,
        snapshot_copy_into,
        snapshot_read,
        snapshot_write,
    )

    land = tmp_path / "landing"
    land.mkdir()
    for j in range(3):
        pd.DataFrame({"k": [100 + j], "v": [j]}).to_parquet(
            land / f"f{j}.parquet"
        )
    t = tmp_path / "t"
    snapshot_write(
        spark.range(10).selectExpr("id AS k", "id AS v"), t, stats_cols=["k"],
        n_files=1,
    )

    # inject one racing append between COPY INTO's write and its commit
    real_commit = S._commit
    raced = {"done": False}
    lock = threading.Lock()

    def racing_commit(p, files, parent, **kw):
        with lock:
            if not raced["done"] and kw.get("op") == "append" and any(
                "copy:" in k for k in (kw.get("txns_extra") or {})
            ):
                raced["done"] = True
                S._commit = real_commit
                from energy_datalake_solution_spark.sources.snapshots import (
                    snapshot_append,
                )

                snapshot_append(
                    spark.createDataFrame([(500, 5)], "k long, v long"), t
                )
                S._commit = racing_commit
        return real_commit(p, files, parent, **kw)

    S._commit = racing_commit
    try:
        v, n = snapshot_copy_into(spark, str(land), t, "parquet")
    finally:
        S._commit = real_commit
    assert raced["done"] and n == 3
    got = {r.k for r in snapshot_read(spark, t).collect()}
    assert got == set(range(10)) | {100, 101, 102, 500}
    # the ledger survived the rebase: rerun is a version no-op
    v2, n2 = snapshot_copy_into(spark, str(land), t, "parquet")
    assert n2 == 0 and v2 == current_version(t)


def test_analyze_races_concurrent_append(spark, tmp_path):
    """ANALYZE rebases over a concurrent append: the retry re-reads the
    new tip, so the appended file is analyzed too and no file loses its
    stats entry."""
    import threading

    from energy_datalake_solution_spark.sources import snapshots as S
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_analyze,
        snapshot_write,
    )

    t = tmp_path / "t"
    snapshot_write(spark.range(50).selectExpr("id AS k"), t)  # no stats

    real_commit = S._commit
    raced = {"done": False}
    lock = threading.Lock()

    def racing_commit(p, files, parent, **kw):
        with lock:
            if not raced["done"] and kw.get("op") == "analyze":
                raced["done"] = True
                S._commit = real_commit
                from energy_datalake_solution_spark.sources.snapshots import (
                    snapshot_append,
                )

                snapshot_append(
                    spark.createDataFrame([(999,)], "k long"), t
                )
                S._commit = racing_commit
        return real_commit(p, files, parent, **kw)

    S._commit = racing_commit
    try:
        snapshot_analyze(spark, t, ["k"])
    finally:
        S._commit = real_commit
    assert raced["done"]
    m = _read_manifest(t, current_version(t))
    assert set(m["files"]) == set(m.get("stats", {})), (
        "every live file (incl. the raced append's) must carry stats"
    )


def test_autocompact_bin_packs_only_small_files(spark, tmp_path):
    """snapshot_compact_small (Delta autoCompact shape): files under the
    threshold bin-pack, well-sized files carry byte-identical, contents
    unchanged, below-min-count calls are commit-free no-ops."""
    import hashlib

    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_append,
        snapshot_compact_small,
        snapshot_read,
        snapshot_write,
    )
    from pyspark.sql import functions as F

    t = tmp_path / "t"
    snapshot_write(
        spark.range(2000).selectExpr("id AS k", "id * 2 AS v"),
        t, stats_cols=["k"], n_files=2,
    )
    big = list(_read_manifest(t, current_version(t))["files"])
    big_md5 = {f: hashlib.md5((t / f).read_bytes()).hexdigest() for f in big}
    big_size = min((t / f).stat().st_size for f in big)
    # six tiny appends (streaming-sink creep)
    for i in range(6):
        snapshot_append(
            spark.range(3000 + i, 3001 + i).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ).coalesce(1),
            t,
        )
    m = _read_manifest(t, current_version(t))
    assert len(m["files"]) == len(big) + 6
    before = {(r.k, r.v) for r in snapshot_read(spark, t).collect()}

    v = snapshot_compact_small(
        spark, t, small_bytes=big_size, min_small_files=4
    )
    m2 = _read_manifest(t, v)
    assert m2["op"] == "autocompact"
    # the two big files carried byte-identical; the six smalls packed
    assert set(big) <= set(m2["files"])
    for f in big:
        assert hashlib.md5(
            (t / f).read_bytes()
        ).hexdigest() == big_md5[f]
    assert len(m2["files"]) < len(big) + 6
    assert {(r.k, r.v) for r in snapshot_read(spark, t).collect()} == before
    # stats tracking survives for the packed files' key column
    assert all("k" in s for s in (m2.get("stats") or {}).values())

    # nothing small left -> commit-free no-op
    v2 = snapshot_compact_small(
        spark, t, small_bytes=1024, min_small_files=4
    )
    assert v2 == v


def test_change_feed_scattered_dv_deltas_route_to_join(spark, tmp_path):
    """Grown-DV deltas with more runs than _DV_RUNS_MAX must route to the
    broadcast semi-join form, not the BETWEEN expression filter — the
    uncapped OR-fold built an O(runs)-deep Column tree that overflowed
    the JVM stack at sf0.1 CDC-window sizes (r16 find). Every-other-row
    deletes compress to one run per position, so 600 deleted rows >> the
    256-run budget; the feed must still report exactly those deletes."""
    from energy_datalake_solution_spark.sources.snapshots import (
        _DV_RUNS_MAX,
        current_version,
        snapshot_change_feed,
        snapshot_delete_where,
        snapshot_write,
    )

    t = tmp_path / "t"
    base = spark.range(0, 1200).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    snapshot_write(base, t, stats_cols=["k"], n_files=2)
    v1 = current_version(t)
    # scattered MOR delete: every even key -> one DV run per position
    snapshot_delete_where(spark, t, "k % 2 = 0")
    feed = snapshot_change_feed(spark, t, v1).collect()
    dels = sorted(r.k for r in feed if r._change_type == "delete")
    assert dels == list(range(0, 1200, 2))
    assert len(dels) > _DV_RUNS_MAX  # proves the join path was exercised
    assert not [r for r in feed if r._change_type == "insert"]


def _regime_caller(spark, t, caller):
    """Run one reader of a vectored file and return its rows as sorted
    tuples. The table is k 0..39 (v = 10k) in two files, with k 3 and 5
    already dead in a deletion vector of the first file."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_change_feed,
        snapshot_delete_where,
        snapshot_update_where,
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    if caller == "read":
        return rows(snapshot_read(spark, t))
    if caller == "delete_where":
        # k = 3 is already dead: it must neither match nor resurrect
        snapshot_delete_where(spark, t, "k = 3 OR k = 7")
        return rows(snapshot_read(spark, t))
    if caller == "update_where":
        snapshot_update_where(spark, t, "k = 5 OR k = 8", {"v": "v + 1"})
        return rows(snapshot_read(spark, t))
    v0 = current_version(t)
    if caller == "feed_netflow":
        snapshot_delete_where(spark, t, "k = 7")  # the vector grows
        return rows(snapshot_change_feed(spark, t, v0))
    # feed_updates: two update images, one of them deleted again
    snapshot_update_where(spark, t, "k = 8 OR k = 9", {"v": "v + 1"})
    snapshot_delete_where(spark, t, "k = 8")
    return rows(snapshot_change_feed(spark, t, v0, updates_as="updates"))


_REGIME_EXPECTED = {
    "read": [(k, 10 * k) for k in range(40) if k not in (3, 5)],
    "delete_where": [(k, 10 * k) for k in range(40) if k not in (3, 5, 7)],
    "update_where": [
        (k, 10 * k + (k == 8)) for k in range(40) if k not in (3, 5)
    ],
    "feed_netflow": [(7, 70, "delete")],
    "feed_updates": sorted([
        (8, 80, "delete"),
        (9, 90, "update_preimage"),
        (9, 91, "update_postimage"),
    ]),
}


@pytest.mark.parametrize("regime", ["expression", "join"])
@pytest.mark.parametrize("caller", sorted(_REGIME_EXPECTED))
def test_vectored_reads_agree_across_position_filter_regimes(
    spark, tmp_path, monkeypatch, caller, regime
):
    """Every reader of a file that already carries a deletion vector
    returns the same rows whether the vector applies as a BETWEEN
    expression (runs within _DV_RUNS_MAX) or as a broadcast join (a
    zero budget forces the join for every vector)."""
    from energy_datalake_solution_spark.sources import snapshots as S
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_delete_where,
    )

    t = tmp_path / "t"
    snapshot_write(
        spark.range(40).selectExpr("id AS k", "id * 10 AS v"),
        t, stats_cols=["k"], n_files=2,
    )
    snapshot_delete_where(spark, t, "k = 3 OR k = 5")
    m = S._read_manifest(t, current_version(t))
    assert len(m["dv"]) == 1
    if regime == "join":
        monkeypatch.setattr(S, "_DV_RUNS_MAX", 0)
    assert _regime_caller(spark, t, caller) == _REGIME_EXPECTED[caller]


def test_mapped_change_reads_surface_logical_columns(spark, tmp_path):
    """On a column-mapped table with a renamed column and a defaulted
    added column, the batch change feed, table_changes(),
    snapshot_read_incremental and snapshot_tail_changes all hand out
    snapshot_read's logical columns, and the feed's delete rows read the
    default of a file that lacks the column — the rows the streaming
    change feed (the pyarrow reader) reports."""
    from energy_datalake_solution_spark.sources.snapshot_catalog import (
        SnapshotCatalog,
    )
    from energy_datalake_solution_spark.sources.snapshot_datasource import (
        SnapshotDataSource,
    )
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_add_column,
        snapshot_change_feed,
        snapshot_delete_where,
        snapshot_enable_column_mapping,
        snapshot_read_incremental,
        snapshot_rename_column,
        snapshot_tail_changes,
        snapshot_update_where,
    )

    t = tmp_path / "t"
    snapshot_write(
        spark.range(10).selectExpr("id AS k", "id * 10 AS v"),
        t, stats_cols=["k"], n_files=2,
    )
    snapshot_enable_column_mapping(spark, t)
    snapshot_add_column(t, "d", "int", default="5")
    snapshot_rename_column(t, "v", "w")
    v0 = current_version(t)
    snapshot_delete_where(spark, t, "k = 3")
    snapshot_update_where(spark, t, "k = 4", {"w": "w + 1"})
    logical = snapshot_read(spark, t).columns
    assert logical == ["k", "w", "d"]

    feed = snapshot_change_feed(spark, t, v0)
    assert feed.columns == [*logical, "_change_type"]
    batch = sorted(tuple(r) for r in feed.collect())
    assert batch == [
        (3, 30, 5, "delete"), (4, 40, 5, "delete"), (4, 41, 5, "insert"),
    ]

    spark.dataSource.register(SnapshotDataSource)
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        spark.readStream.format("snapshot")
        .option("path", str(t))
        .option("startingVersion", str(v0))
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream = spark.read.parquet(str(out)).drop("_commit_version")
    assert sorted(tuple(r) for r in stream.select(*feed.columns).collect()) \
        == batch

    upd = snapshot_change_feed(spark, t, v0, updates_as="updates")
    assert upd.columns == [*logical, "_change_type"]
    assert sorted(tuple(r) for r in upd.where("k = 4").collect()) == [
        (4, 40, 5, "update_preimage"), (4, 41, 5, "update_postimage"),
    ]

    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE mapped_cf USING snapshot LOCATION '{t}'")
    sql = cat.sql(f"SELECT * FROM table_changes('mapped_cf', {v0})")
    assert sql.columns == feed.columns
    assert sorted(tuple(r) for r in sql.collect()) == batch
    cat.drop_table("mapped_cf")

    v_app = current_version(t)
    snapshot_append(spark.createDataFrame([(20, 200, 7)], "k long, w long, d int"), t)
    inc = snapshot_read_incremental(spark, t, v_app)
    assert inc.columns == snapshot_read(spark, t).columns
    assert [tuple(r) for r in inc.collect()] == [(20, 200, 7)]

    seen = []
    snapshot_tail_changes(
        spark, t, tmp_path / "progress",
        lambda df, ver: seen.append((ver, df.columns)),
    )
    assert [v for v, _ in seen] == list(range(1, current_version(t) + 1))
    for ver, cols in seen:
        assert cols == [
            *snapshot_read(spark, t, version=ver).columns, "_change_type"
        ], ver


def test_analyze_on_shallow_clone_covers_inherited_files(spark, tmp_path):
    """ANALYZE ... COMPUTE STATISTICS and ... COMPUTE BLOOM FILTERS on a
    shallow clone read the inherited files through their absolute refs
    and record stats and a bloom filter for every one of them."""
    from energy_datalake_solution_spark.sources import snapshots as S
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_analyze,
        snapshot_analyze_blooms,
        snapshot_clone,
    )

    src, dst = tmp_path / "src", tmp_path / "dst"
    snapshot_write(
        spark.range(30).selectExpr("id AS k", "CAST(id % 7 AS string) AS u"),
        src, n_files=3,
    )
    snapshot_clone(src, dst)
    files = S._read_manifest(dst, current_version(dst))["files"]
    assert len(files) == 3 and all(f.startswith("/") for f in files)
    snapshot_analyze(spark, dst, ["k"])
    snapshot_analyze_blooms(spark, dst, ["u"])
    m = S._read_manifest(dst, current_version(dst))
    assert {f for f in files if "k" in m["stats"].get(f, {})} == set(files)
    assert {f for f in files if "u" in m["blooms"].get(f, {})} == set(files)
    got = sorted(r.k for r in S.snapshot_read(spark, dst, where="u = '3'").collect())
    assert got == [3, 10, 17, 24]


def test_analyze_blooms_refuses_a_missing_data_file(spark, tmp_path):
    """A data file that cannot be read fails ANALYZE BLOOM FILTERS
    loudly; no version commits a bloom map that silently lacks it."""
    from energy_datalake_solution_spark.sources import snapshots as S
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_analyze_blooms,
    )

    t = tmp_path / "t"
    snapshot_write(
        spark.range(20).selectExpr("id AS k", "CAST(id AS string) AS u"),
        t, n_files=2,
    )
    v = current_version(t)
    (t / S._read_manifest(t, v)["files"][0]).unlink()
    with pytest.raises(FileNotFoundError):
        snapshot_analyze_blooms(spark, t, ["u"])
    assert current_version(t) == v


def test_change_feed_cancels_carried_rows_after_a_dropped_column(spark, tmp_path):
    """A compaction after a dropped column rewrites every row into files
    without the dropped column's physical. The change feed over that
    window must still cancel each carried row against its old copy and
    report nothing, through the library and through table_changes()."""
    from energy_datalake_solution_spark.sources.snapshot_catalog import (
        SnapshotCatalog,
    )
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_change_feed,
        snapshot_enable_column_mapping,
    )

    t = tmp_path / "t"
    snapshot_write(
        spark.range(6).selectExpr("id AS k", "id * 10 AS v", "'x' AS x"),
        t, n_files=2,
    )
    snapshot_enable_column_mapping(spark, t)
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE cfd USING snapshot LOCATION '{t}'")
    cat.sql("ALTER TABLE cfd DROP COLUMN x")
    v = current_version(t)
    cat.sql("OPTIMIZE cfd INTO 1 FILES")
    assert current_version(t) == v + 1
    feed = snapshot_change_feed(spark, t, v)
    assert feed.columns == ["k", "v", "_change_type"]
    assert feed.count() == 0
    out = cat.sql(f"SELECT * FROM table_changes('cfd', {v})")
    assert out.columns == ["k", "v", "_change_type"]
    assert out.count() == 0
