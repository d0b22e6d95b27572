"""Partition-scoped merge_upsert: only touched partitions are rewritten.

The scale contract (merge.py docstring): with ``partition_by``, a merge
batch that touches partitions {P} must leave every partition outside {P}
byte-identical on disk — reading back only {P} (partition pruning), anti-
joining within it, and dynamically overwriting just those directories.
This is the parquet analogue of Delta MERGE INTO file skipping
(reference: glue_jobs/etl-s3-processed-to-redshift.py:66-96 delegates the
same concern to Redshift's staging-table merge).
"""

from __future__ import annotations

import hashlib
from datetime import datetime
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from energy_datalake_solution_spark.sources.merge import merge_upsert
from energy_datalake_solution_spark.sources.schemas import TRANSACCIONES


def _partition_file_hashes(table_path: Path, partition_dir: str) -> dict[str, str]:
    """{relative file name: sha256 of bytes} for one partition directory."""
    d = table_path / partition_dir
    out = {}
    for f in sorted(d.rglob("*")):
        if f.is_file() and not f.name.startswith(("_", ".")):
            out[str(f.relative_to(d))] = hashlib.sha256(f.read_bytes()).hexdigest()
    return out


def _batch(spark, rows):
    return spark.createDataFrame(
        [
            (tid, qty, datetime(2025, 3, day, 10, 0, 0), f"2025-03-{day:02d}")
            for tid, qty, day in rows
        ],
        "transaction_id string, energy_quantity_mwh double, "
        "load_timestamp_utc timestamp, txn_day string",
    ).withColumn("txn_day", F.to_date("txn_day"))


def test_scoped_merge_leaves_untouched_partitions_byte_identical(spark, tmp_path):
    curated = tmp_path / "curated"
    # day 1: T1, T2 ; day 2: T3, T4
    first = _batch(spark, [("T1", 10.0, 1), ("T2", 20.0, 1), ("T3", 30.0, 2), ("T4", 40.0, 2)])
    merge_upsert(spark, first, curated, TRANSACCIONES, partition_by="txn_day")

    table = curated / TRANSACCIONES.table_name
    assert (table / "txn_day=2025-03-01").exists()
    before = _partition_file_hashes(table, "txn_day=2025-03-01")
    assert before, "partition must contain data files"

    # batch touches ONLY day 2: update T3, insert T5
    second = _batch(spark, [("T3", 99.0, 2), ("T5", 50.0, 2)])
    merge_upsert(spark, second, curated, TRANSACCIONES, partition_by="txn_day")

    after = _partition_file_hashes(table, "txn_day=2025-03-01")
    assert after == before, "untouched partition files must be byte-identical"

    rows = {r["transaction_id"]: r for r in spark.read.parquet(str(table)).collect()}
    assert set(rows) == {"T1", "T2", "T3", "T4", "T5"}
    assert rows["T3"]["energy_quantity_mwh"] == 99.0  # updated in place
    assert rows["T5"]["energy_quantity_mwh"] == 50.0  # inserted
    assert rows["T1"]["energy_quantity_mwh"] == 10.0  # untouched survives


def test_scoped_merge_restores_overwrite_mode_conf(spark, tmp_path):
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf_key, "static")
    curated = tmp_path / "curated"
    merge_upsert(
        spark, _batch(spark, [("T1", 1.0, 1)]), curated, TRANSACCIONES, partition_by="txn_day"
    )
    merge_upsert(
        spark, _batch(spark, [("T2", 2.0, 1)]), curated, TRANSACCIONES, partition_by="txn_day"
    )
    assert spark.conf.get(conf_key, "static") == prev


def test_unpartitioned_merge_commits_snapshot_versions(spark, tmp_path):
    """The default merge path commits through the snapshot format: each
    upsert is a new table version (no staging swap dirs at all), the
    upsert replaces matched keys only, and the pre-merge version still
    time-travels."""
    from energy_datalake_solution_spark.sources.merge import curated_read
    from energy_datalake_solution_spark.sources.snapshots import (
        current_version,
        snapshot_read,
    )

    curated = tmp_path / "curated"
    merge_upsert(spark, _batch(spark, [("T1", 1.0, 1), ("T2", 2.0, 1)]), curated, TRANSACCIONES)
    merge_upsert(spark, _batch(spark, [("T2", 9.0, 1), ("T3", 3.0, 1)]), curated, TRANSACCIONES)
    table = curated / TRANSACCIONES.table_name
    assert not Path(str(table) + "__staging").exists()
    assert not Path(str(table) + "__old").exists()
    assert current_version(table) == 2
    rows = {r["transaction_id"]: r["energy_quantity_mwh"]
            for r in curated_read(spark, curated, TRANSACCIONES.table_name).collect()}
    assert rows == {"T1": 1.0, "T2": 9.0, "T3": 3.0}
    # version 1 is intact: time travel sees the pre-merge state
    v1 = {r["transaction_id"]: r["energy_quantity_mwh"]
          for r in snapshot_read(spark, table, version=1).collect()}
    assert v1 == {"T1": 1.0, "T2": 2.0}


def test_bad_load_rolls_back(spark, tmp_path):
    """A corrupt batch merged into the curated zone backs out with an O(1)
    pointer rollback — the transactional story the snapshot-backed merge
    buys over plain parquet (where the bad rows would need a compensating
    merge or a restore from backup)."""
    from energy_datalake_solution_spark.sources.merge import curated_read
    from energy_datalake_solution_spark.sources.snapshots import (
        current_version,
        snapshot_rollback,
    )

    curated = tmp_path / "curated"
    good = _batch(spark, [("T1", 10.0, 1), ("T2", 20.0, 1)])
    merge_upsert(spark, good, curated, TRANSACCIONES)
    table = curated / TRANSACCIONES.table_name
    good_version = current_version(table)
    # the bad load: a fat-fingered unit conversion corrupts every row
    bad = _batch(spark, [("T1", 10_000.0, 2), ("T2", 20_000.0, 2), ("T9", -1.0, 2)])
    merge_upsert(spark, bad, curated, TRANSACCIONES)
    assert curated_read(spark, curated, TRANSACCIONES.table_name).count() == 3
    snapshot_rollback(table, good_version)
    rows = {r["transaction_id"]: r["energy_quantity_mwh"]
            for r in curated_read(spark, curated, TRANSACCIONES.table_name).collect()}
    assert rows == {"T1": 10.0, "T2": 20.0}  # bad load fully backed out
    # and the NEXT good load commits cleanly past the orphaned bad version
    merge_upsert(spark, _batch(spark, [("T3", 30.0, 3)]), curated, TRANSACCIONES)
    rows = {r["transaction_id"]: r["energy_quantity_mwh"]
            for r in curated_read(spark, curated, TRANSACCIONES.table_name).collect()}
    assert rows == {"T1": 10.0, "T2": 20.0, "T3": 30.0}


def test_scoped_merge_rejects_null_partition_values(spark, tmp_path):
    """A NULL partition value in the batch would escape the isin() scope
    (old rows survive, new rows land in __HIVE_DEFAULT_PARTITION__) — the
    scoped path must fail loudly instead."""
    curated = tmp_path / "curated"
    merge_upsert(
        spark, _batch(spark, [("T1", 1.0, 1)]), curated, TRANSACCIONES, partition_by="txn_day"
    )
    bad = _batch(spark, [("T1", 5.0, 2)]).withColumn(
        "txn_day", F.lit(None).cast("date")
    )
    with pytest.raises(ValueError, match="NULL partition"):
        merge_upsert(spark, bad, curated, TRANSACCIONES, partition_by="txn_day")
    # table unchanged: the guard fired before any write
    rows = {
        r["transaction_id"]: r["energy_quantity_mwh"]
        for r in spark.read.parquet(str(curated / TRANSACCIONES.table_name)).collect()
    }
    assert rows == {"T1": 1.0}


def test_scoped_merge_partition_stability_audit(spark, tmp_path):
    """Opt-in audit: a key re-arriving under a DIFFERENT partition value is
    exactly the documented hazard of the scoped path — the audit turns it
    into an error; without the audit the same batch silently duplicates."""
    curated = tmp_path / "curated"
    merge_upsert(
        spark, _batch(spark, [("T1", 1.0, 1), ("T2", 2.0, 2)]), curated,
        TRANSACCIONES, partition_by="txn_day",
    )
    moved = _batch(spark, [("T1", 9.0, 2)])  # T1 moves day1 -> day2
    with pytest.raises(ValueError, match="re-arrived under a different"):
        merge_upsert(
            spark, moved, curated, TRANSACCIONES, partition_by="txn_day",
            validate_partition_stability=True,
        )
    # stable batch passes the audit and merges normally
    ok = _batch(spark, [("T2", 7.0, 2)])
    merge_upsert(
        spark, ok, curated, TRANSACCIONES, partition_by="txn_day",
        validate_partition_stability=True,
    )
    rows = {
        r["transaction_id"]: r["energy_quantity_mwh"]
        for r in spark.read.parquet(str(curated / TRANSACCIONES.table_name)).collect()
    }
    assert rows == {"T1": 1.0, "T2": 7.0}


def test_first_snapshot_merge_migrates_legacy_parquet_table(spark, tmp_path):
    """A curated table written as PLAIN parquet (an earlier release, or
    any direct write) must have its rows carried into the first
    snapshot-format merge — not silently dropped behind the new manifest."""
    from energy_datalake_solution_spark.sources.merge import curated_read

    curated = tmp_path / "curated"
    table = curated / TRANSACCIONES.table_name
    # the legacy table: plain parquet, no _manifests
    _batch(spark, [("T1", 1.0, 1), ("T2", 2.0, 1)]).write.parquet(str(table))
    # first snapshot-backed merge: updates T2, inserts T3
    merge_upsert(spark, _batch(spark, [("T2", 9.0, 2), ("T3", 3.0, 2)]), curated, TRANSACCIONES)
    rows = {r["transaction_id"]: r["energy_quantity_mwh"]
            for r in curated_read(spark, curated, TRANSACCIONES.table_name).collect()}
    assert rows == {"T1": 1.0, "T2": 9.0, "T3": 3.0}  # T1 survived migration
    # and the second merge takes the normal snapshot path
    merge_upsert(spark, _batch(spark, [("T4", 4.0, 3)]), curated, TRANSACCIONES)
    assert curated_read(spark, curated, TRANSACCIONES.table_name).count() == 4


def test_merge_retain_versions_bounds_history(spark, tmp_path):
    """Per-micro-batch merges with retain_versions must not accumulate one
    full table copy per trigger: history past the retention depth is
    vacuumed after each commit, current contents stay correct."""
    from energy_datalake_solution_spark.sources.merge import curated_read
    from energy_datalake_solution_spark.sources.snapshots import _MANIFEST_DIR

    curated = tmp_path / "curated"
    table = curated / TRANSACCIONES.table_name
    for i in range(6):
        merge_upsert(
            spark,
            _batch(spark, [(f"T{i}", float(i), 1)]),
            curated,
            TRANSACCIONES,
            retain_versions=2,
        )
    manifests = list((table / _MANIFEST_DIR).glob("v*.json"))
    assert len(manifests) <= 2  # history bounded
    rows = {r["transaction_id"] for r in
            curated_read(spark, curated, TRANSACCIONES.table_name).collect()}
    assert rows == {f"T{i}" for i in range(6)}  # contents complete


def test_migration_removes_stranded_legacy_files(spark, tmp_path):
    """After the first snapshot-format merge migrates a plain-parquet
    table, the pre-format files must be deleted — snapshot_vacuum only
    scans data/, so stranded legacy files would be a dead table copy no
    retention setting could ever reclaim."""
    from energy_datalake_solution_spark.sources.merge import curated_read

    curated = tmp_path / "curated"
    table = curated / TRANSACCIONES.table_name
    _batch(spark, [("T1", 1.0, 1), ("T2", 2.0, 1)]).write.parquet(str(table))
    assert any(table.glob("*.parquet"))  # legacy layout in the root
    merge_upsert(spark, _batch(spark, [("T3", 3.0, 2)]), curated, TRANSACCIONES)
    leftovers = [
        e.name for e in table.iterdir()
        if e.name not in ("_manifests", "data", "_latest")
    ]
    assert leftovers == []  # nothing stranded beside the format's dirs
    rows = {r["transaction_id"] for r in
            curated_read(spark, curated, TRANSACCIONES.table_name).collect()}
    assert rows == {"T1", "T2", "T3"}  # migrated rows intact


# ---------------------------------------------------------------------------
# Snapshot-format partitioned merge (partition_format="snapshot")
# ---------------------------------------------------------------------------


def _table_file_hashes(table_path: Path) -> dict[str, str]:
    """{manifest-relative data file: sha256} for a snapshot table."""
    out = {}
    for f in sorted((table_path / "data").rglob("*.parquet")):
        rel = str(f.relative_to(table_path))
        out[rel] = hashlib.sha256(f.read_bytes()).hexdigest()
    return out


def test_snapshot_scoped_merge_carries_untouched_partitions_byte_identical(
    spark, tmp_path
):
    """partition_format='snapshot': a merge touching day 1 must carry day
    2's files into the new manifest byte-identical — and the table gets
    time travel and rollback, which the hive layout never had."""
    from energy_datalake_solution_spark.sources.merge import curated_read
    from energy_datalake_solution_spark.sources.snapshots import (
        current_version,
        snapshot_read,
        snapshot_rollback,
        _read_manifest,
    )

    curated = tmp_path / "curated"
    first = _batch(spark, [("T1", 10.0, 1), ("T2", 20.0, 1), ("T3", 30.0, 2), ("T4", 40.0, 2)])
    merge_upsert(spark, first, curated, TRANSACCIONES,
                 partition_by="txn_day", partition_format="snapshot")
    t = curated / TRANSACCIONES.table_name
    m1 = _read_manifest(t, current_version(t))
    before = _table_file_hashes(t)
    # identify day-2's files via their (exact, point) partition stats
    day2_files = {
        f for f, s in m1["stats"].items()
        if s.get("txn_day") and str(s["txn_day"][0]).startswith("2025-03-02")
    }
    assert day2_files, m1["stats"]

    # second batch touches ONLY day 1 (update T1, insert T9)
    second = _batch(spark, [("T1", 11.0, 1), ("T9", 90.0, 1)])
    merge_upsert(spark, second, curated, TRANSACCIONES,
                 partition_by="txn_day", partition_format="snapshot")
    m2 = _read_manifest(t, current_version(t))
    after = _table_file_hashes(t)
    # day-2 files are carried in the new manifest, bytes unchanged
    assert day2_files < set(m2["files"])
    for f in day2_files:
        assert after[f] == before[f], f
    # contents merged correctly
    rows = {r["transaction_id"]: r["energy_quantity_mwh"]
            for r in curated_read(spark, curated, TRANSACCIONES.table_name).collect()}
    assert rows == {"T1": 11.0, "T2": 20.0, "T3": 30.0, "T4": 40.0, "T9": 90.0}
    # time travel: version 1 still shows the original T1
    v1 = {r["transaction_id"]: r["energy_quantity_mwh"]
          for r in snapshot_read(spark, t, version=1).collect()}
    assert v1["T1"] == 10.0 and "T9" not in v1
    # rollback is O(1) metadata
    snapshot_rollback(t, 1)
    assert curated_read(spark, curated, TRANSACCIONES.table_name).count() == 4


def test_snapshot_scoped_merge_prunes_to_touched_partitions(spark, tmp_path):
    """The scoped read-back admits only the touched partitions' files:
    partition values are point stats, so value pruning is exact."""
    from energy_datalake_solution_spark.sources.snapshots import (
        current_version,
        snapshot_files,
        _read_manifest,
    )

    curated = tmp_path / "curated"
    days = [(f"T{d}{i}", float(d * 10 + i), d) for d in (1, 2, 3) for i in range(3)]
    merge_upsert(spark, _batch(spark, days), curated, TRANSACCIONES,
                 partition_by="txn_day", partition_format="snapshot")
    t = curated / TRANSACCIONES.table_name
    m = _read_manifest(t, current_version(t))
    import datetime as _dt

    day = _dt.date(2025, 3, 2)
    pruned = snapshot_files(t, [{"txn_day": (day, day)}], current_version(t))
    assert 0 < len(pruned) < len(m["files"])


def test_snapshot_scoped_merge_rejects_hive_layout_table(spark, tmp_path):
    """Switching formats on an existing hive-layout table must fail
    loudly, mirroring the inverse guard on the hive path."""
    curated = tmp_path / "curated"
    first = _batch(spark, [("T1", 10.0, 1)])
    merge_upsert(spark, first, curated, TRANSACCIONES, partition_by="txn_day")
    with pytest.raises(ValueError, match="plain-parquet"):
        merge_upsert(spark, _batch(spark, [("T2", 20.0, 1)]), curated,
                     TRANSACCIONES, partition_by="txn_day",
                     partition_format="snapshot")


def test_snapshot_scoped_merge_rejects_null_partitions(spark, tmp_path):
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_upsert_partitioned,
    )

    bad = _batch(spark, [("T1", 10.0, 1)]).withColumn(
        "txn_day", F.lit(None).cast("date")
    )
    with pytest.raises(ValueError, match="NULL partition"):
        snapshot_upsert_partitioned(
            spark, bad, tmp_path / "t", ["transaction_id"], "txn_day"
        )


def test_snapshot_scoped_merge_stability_audit(spark, tmp_path):
    """validate_partition_stability on the snapshot path: a key
    re-arriving under a different day fails loudly."""
    curated = tmp_path / "curated"
    merge_upsert(spark, _batch(spark, [("T1", 10.0, 1), ("T3", 30.0, 2)]),
                 curated, TRANSACCIONES, partition_by="txn_day",
                 partition_format="snapshot")
    moved = _batch(spark, [("T3", 31.0, 1)])  # T3 was day 2, arrives day 1
    with pytest.raises(ValueError, match="re-arrived"):
        merge_upsert(spark, moved, curated, TRANSACCIONES,
                     partition_by="txn_day", partition_format="snapshot",
                     validate_partition_stability=True)


def test_snapshot_partition_evolution_without_rewrite(spark, tmp_path):
    """Iceberg-style partition evolution, free from the
    partitions-are-stats design: a table laid out by txn_day can start
    upserting by a DIFFERENT column (customer tier here) WITHOUT
    rewriting old files — old files simply lack stats for the new
    column and are conservatively admitted by its prunes, while new
    files carry exact point stats for it. Contents stay correct across
    the evolution; pruning on the NEW column admits old files (sound)
    and discriminates among new ones (effective)."""
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_files,
        snapshot_read,
        snapshot_upsert_partitioned,
    )

    t = tmp_path / "t"
    first = _batch(spark, [("T1", 10.0, 1), ("T3", 30.0, 2)])
    snapshot_upsert_partitioned(
        spark, first, t, ["transaction_id"], "txn_day"
    )
    old_files = set(_read_manifest(t, current_version(t))["files"])
    # evolution: same schema + a tier column; future upserts scope by it
    evolved = _batch(
        spark, [("T5", 50.0, 3), ("T6", 60.0, 3)]
    ).withColumn("tier", F.lit("gold"))
    snapshot_upsert_partitioned(spark, evolved, t, ["transaction_id"], "tier")
    m = _read_manifest(t, current_version(t))
    # old files carried byte-identical (no stats for tier -> untouched)
    assert old_files <= set(m["files"])
    # reads across the evolution merge cleanly (tier NULL on old rows)
    rows = {r["transaction_id"]: (r["energy_quantity_mwh"], r["tier"])
            for r in snapshot_read(spark, t, merge_schema=True).collect()}
    assert rows == {"T1": (10.0, None), "T3": (30.0, None),
                    "T5": (50.0, "gold"), "T6": (60.0, "gold")}
    # pruning on the NEW column: sound on old files, exact on new ones
    pruned = set(snapshot_files(t, [{"tier": ("silver", "silver")}]))
    assert old_files <= pruned          # stats-less -> conservatively kept
    assert pruned & set(m["files"]) - old_files == set()  # no gold file admitted
