"""Partition-spec metadata and evolution on snapshot tables.

``snapshot_set_partitioning`` records the partition column as an
O(columns) metadata commit (Iceberg's spec-evolution view applied to the
partitions-are-stats design); ``snapshot_append`` honors the recorded
spec by routing one file set per partition value with exact point stats.
Old files never rewrite — pruning on the new column is conservative over
them and exact over post-evolution files. The spec follows the standard
metadata carry: inherit, delta-on-change, checkpoint materialization,
clone, restore-with-CLEAR.
"""

from __future__ import annotations

import pytest

from energy_datalake_solution_spark.sources.snapshots import (
    _read_manifest,
    current_version,
    snapshot_append,
    snapshot_files,
    snapshot_partitioning,
    snapshot_read,
    snapshot_set_partitioning,
    snapshot_upsert_partitioned,
    snapshot_write,
)


def _seed(spark, t, n=40):
    snapshot_write(
        spark.range(n).selectExpr(
            "id AS k", "id * 10 AS v",
            "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS cat",
        ),
        t, stats_cols=["k"], n_files=2,
    )


def test_set_partitioning_is_metadata_only_and_append_honors_it(spark, tmp_path):
    t = tmp_path / "t"
    _seed(spark, t)
    m1 = _read_manifest(t, current_version(t))
    snapshot_set_partitioning(t, "cat")
    m2 = _read_manifest(t, current_version(t))
    assert m2["files"] == m1["files"], "evolution must touch no data file"
    assert snapshot_partitioning(t) == ["cat"]

    batch = spark.createDataFrame(
        [(100, 1, "a"), (101, 2, "b"), (102, 3, "c")],
        "k long, v long, cat string",
    )
    snapshot_append(batch, t)
    m3 = _read_manifest(t, current_version(t))
    new_files = sorted(set(m3["files"]) - set(m2["files"]))
    assert len(new_files) == 3, "one file per partition value"
    for f in new_files:
        s = m3["stats"][f]["cat"]
        assert s[0] == s[1], "partition stats must be exact points"
    # value pruning: exact over post-evolution files, conservative over old
    pruned = set(snapshot_files(t, [{"cat": ("c", "c")}]))
    assert set(m1["files"]) <= pruned
    assert len(pruned & set(new_files)) == 1
    # key pruning still discriminates the pre-evolution files
    got = {r.k for r in snapshot_read(spark, t).collect()}
    assert got == set(range(40)) | {100, 101, 102}


def test_append_null_partition_value_raises(spark, tmp_path):
    t = tmp_path / "t"
    _seed(spark, t)
    snapshot_set_partitioning(t, "cat")
    bad = spark.createDataFrame([(200, 1, None)], "k long, v long, cat string")
    with pytest.raises(ValueError, match="NULL partition"):
        snapshot_append(bad, t)


def test_set_partitioning_validates_and_clears(spark, tmp_path):
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_enable_column_mapping,
    )

    t = tmp_path / "t"
    _seed(spark, t)
    snapshot_enable_column_mapping(spark, t)
    with pytest.raises(ValueError, match="not in table schema"):
        snapshot_set_partitioning(t, "nope")
    snapshot_set_partitioning(t, "cat")
    assert snapshot_partitioning(t) == ["cat"]
    snapshot_set_partitioning(t, None)
    assert snapshot_partitioning(t) is None
    # cleared spec: appends go back to the plain write path
    snapshot_append(
        spark.createDataFrame([(100, 1, "zz")], "k long, v long, cat string"),
        t,
    )
    got = {r.k for r in snapshot_read(spark, t).collect()}
    assert 100 in got


def test_upsert_partitioned_records_spec_for_later_appends(spark, tmp_path):
    from pyspark.sql import functions as F

    t = tmp_path / "t"
    df = spark.range(20).selectExpr(
        "id AS k", "id * 10 AS v",
        "CASE WHEN id < 10 THEN 'x' ELSE 'y' END AS cat",
    )
    snapshot_upsert_partitioned(spark, df, t, ["k"], "cat")
    assert snapshot_partitioning(t) == ["cat"]
    before = set(_read_manifest(t, current_version(t))["files"])
    # a PLAIN append now routes by the recorded spec
    snapshot_append(
        spark.createDataFrame(
            [(100, 1, "x"), (101, 2, "z")], "k long, v long, cat string"
        ),
        t,
    )
    m = _read_manifest(t, current_version(t))
    added = sorted(set(m["files"]) - before)
    assert len(added) == 2
    assert {m["stats"][f]["cat"][0] for f in added} == {"x", "z"}


def test_spec_survives_checkpoint_vacuum_clone_and_restore_clears(spark, tmp_path):
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_clone,
        snapshot_restore,
        snapshot_vacuum,
    )

    t = tmp_path / "t"
    _seed(spark, t)                      # v1: no spec
    snapshot_set_partitioning(t, "cat")  # v2: spec
    # push past the checkpoint cadence so resolution crosses a delta chain
    for i in range(9):
        snapshot_append(
            spark.createDataFrame(
                [(1000 + i, 1, "a")], "k long, v long, cat string"
            ),
            t,
        )
    assert snapshot_partitioning(t) == ["cat"]
    c = tmp_path / "c"
    snapshot_clone(t, c)
    assert snapshot_partitioning(c) == ["cat"]
    # restore to v1 (pre-spec) must CLEAR, not silently carry
    snapshot_restore(t, 1)
    assert snapshot_partitioning(t) is None
    snapshot_restore(t, 2)  # back to the spec-carrying version
    assert snapshot_partitioning(t) == ["cat"]
    snapshot_vacuum(t, keep_versions=2)
    assert snapshot_partitioning(t) == ["cat"], "spec must survive vacuum"


def test_multi_column_partition_spec(spark, tmp_path):
    """Evolving to a (status, band) spec routes appends one file per
    value TUPLE with exact point stats on BOTH columns, so conjunctive
    value prunes intersect exactly; pre-evolution files stay
    conservatively admitted; reads across the boundary are complete."""
    from energy_datalake_solution_spark.sources.snapshot_catalog import (
        SnapshotCatalog,
    )
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_append,
        snapshot_files,
        snapshot_partitioning,
        snapshot_read,
        snapshot_write,
    )

    t = tmp_path / "t"
    snapshot_write(
        spark.range(20).selectExpr(
            "id AS k", "'A' AS status", "CAST(id % 2 AS INT) AS band"
        ),
        t, stats_cols=["k"], n_files=2,
    )
    pre = set(_read_manifest(t, current_version(t))["files"])
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE mc USING snapshot LOCATION '{t}'")
    cat.sql("ALTER TABLE mc SET PARTITIONED BY (status, band)")
    assert snapshot_partitioning(t) == ["status", "band"]
    snapshot_append(
        spark.range(100, 120).selectExpr(
            "id AS k",
            "CASE WHEN id % 2 = 0 THEN 'B' ELSE 'C' END AS status",
            "CAST((id DIV 2) % 2 AS INT) AS band",
        ),
        t,
    )
    m = _read_manifest(t, current_version(t))
    post = set(m["files"]) - pre
    assert len(post) == 4, "expected one file per (status, band) tuple"
    for f in post:
        st = m["stats"][f]
        assert st["status"][0] == st["status"][1], "status not a point"
        assert st["band"][0] == st["band"][1], "band not a point"
    # conjunctive value prune: status='B' AND band=0 -> exactly one
    # post-evolution file (plus the conservative pre-evolution set)
    fs = set(snapshot_files(t, [{"status": ("B", "B")}])) & set(
        snapshot_files(t, [{"band": (0, 0)}])
    )
    assert pre <= fs and len(fs - pre) == 1
    # reads across the boundary are complete
    got = {r.k for r in snapshot_read(spark, t).collect()}
    assert got == set(range(20)) | set(range(100, 120))
    # single-column list still records (and round-trips) a 1-col spec
    cat.sql("ALTER TABLE mc SET PARTITIONED BY (status)")
    assert snapshot_partitioning(t) == ["status"]
    cat.sql("ALTER TABLE mc CLEAR PARTITIONING")
    assert snapshot_partitioning(t) is None
