"""Round-16 governance fixes, pinned.

1. snapshot_write(..., partition_by=...) (the partitioned-CTAS write,
   snapshot_catalog CTAS routing) runs the SAME full-replace prelude as
   snapshot_write when the location already holds a table: constraints
   enforce on the replacing data, write defaults / generated columns
   materialize, a column-mapped table's batch maps logical -> physical
   before routing (so a CTAS replace after RENAME COLUMN reads back
   values, not NULLs), and IDENTITY tables refuse loudly (the
   per-partition routing has no per-rebase allocation).
2. snapshot_write(..., zorder_by=...) materializes write defaults and generated
   columns (logical space) BEFORE zorder_arrange_n, so z-ordering on a
   DEFAULT/GENERATED column the batch omits clusters the stored
   write-time value instead of failing with a missing-column error.
"""
import pytest

from energy_datalake_solution_spark.sources.snapshot_catalog import (
    SnapshotCatalog,
)
from energy_datalake_solution_spark.sources import snapshots as S


# ---------------------------------------------------------------------------
# 1. partitioned CTAS replace honors the full-replace prelude
# ---------------------------------------------------------------------------

@pytest.fixture
def mapped_table(spark, tmp_path):
    """A column-mapped table (RENAME COLUMN forks logical from
    physical) with a CHECK constraint — the ADVICE repro surface."""
    t = tmp_path / "m"
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE m (k bigint, v bigint, part string) "
        f"USING snapshot LOCATION '{t}'"
    )
    cat.sql("INSERT INTO m VALUES (1, 10, 'a'), (2, 20, 'b')")
    cat.sql("ALTER TABLE m RENAME COLUMN v TO val")
    cat.sql("ALTER TABLE m ADD CONSTRAINT pos CHECK (val > 0)")
    return cat, t


def test_partitioned_ctas_replace_maps_logical_to_physical(
    spark, mapped_table
):
    """CREATE OR REPLACE ... PARTITIONED BY ... AS SELECT over a
    column-mapped table writes PHYSICAL files: the renamed column reads
    back its values (the pre-fix path wrote logical-named columns no
    mapped read resolves -> all NULL)."""
    cat, t = mapped_table
    spark.range(4).selectExpr(
        "id AS k", "id * 100 + 1 AS val", "CAST(id % 2 AS string) AS part"
    ).createOrReplaceTempView("pctas_good")
    cat.sql(
        f"CREATE OR REPLACE TABLE m USING snapshot PARTITIONED BY (part) "
        f"LOCATION '{t}' AS SELECT * FROM pctas_good"
    )
    rows = sorted(tuple(r) for r in
                  cat.sql("SELECT k, val, part FROM m").collect())
    assert rows == [(0, 1, "0"), (1, 101, "1"), (2, 201, "0"),
                    (3, 301, "1")]
    # the spec landed (logical name) and later inserts route through it
    spec = S._read_manifest(t, S.current_version(t))["partitioning"]
    assert spec == {"cols": ["part"]}
    cat.sql("INSERT INTO m VALUES (9, 900, '7')")
    assert {r[0] for r in cat.sql("SHOW PARTITIONS m").collect()} == {
        "0", "1", "7"
    }


def test_partitioned_ctas_replace_enforces_carried_constraints(
    spark, mapped_table
):
    cat, t = mapped_table
    v0 = S.current_version(t)
    spark.range(2).selectExpr(
        "id AS k", "id - 5 AS val", "CAST(id AS string) AS part"
    ).createOrReplaceTempView("pctas_bad")
    with pytest.raises(Exception, match="CHECK constraint 'pos'"):
        cat.sql(
            f"CREATE OR REPLACE TABLE m USING snapshot "
            f"PARTITIONED BY (part) LOCATION '{t}' "
            f"AS SELECT * FROM pctas_bad"
        )
    assert S.current_version(t) == v0  # nothing committed


def test_partitioned_ctas_replace_refuses_identity(spark, tmp_path):
    t = tmp_path / "idt"
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE idt (id bigint GENERATED ALWAYS AS IDENTITY, "
        f"part string) USING snapshot LOCATION '{t}'"
    )
    with pytest.raises(NotImplementedError, match="IDENTITY"):
        cat.sql(
            f"CREATE OR REPLACE TABLE idt USING snapshot "
            f"PARTITIONED BY (part) LOCATION '{t}' "
            f"AS SELECT CAST(id % 2 AS string) AS part FROM range(4)"
        )


def test_partitioned_ctas_replace_unmapped_spec_column_refuses(
    spark, mapped_table
):
    """A spec column outside the replaced table's mapping refuses with
    the standard ValueError, not a KeyError from the physical lookup."""
    cat, t = mapped_table
    spark.range(2).selectExpr(
        "id AS k", "id + 1 AS val", "CAST(id AS string) AS part"
    ).createOrReplaceTempView("pctas_src2")
    with pytest.raises(ValueError, match="column mapping"):
        cat.sql(
            f"CREATE OR REPLACE TABLE m USING snapshot "
            f"PARTITIONED BY (nosuch) LOCATION '{t}' "
            f"AS SELECT * FROM pctas_src2"
        )


# ---------------------------------------------------------------------------
# 2. z-order writers materialize defaults before arranging
# ---------------------------------------------------------------------------

@pytest.fixture
def default_table(spark, tmp_path):
    """Expression DEFAULT (write default) + GENERATED column — both
    omitted by every batch below."""
    t = tmp_path / "z"
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE zt (k bigint, v bigint DEFAULT 1 + 6, "
        f"g bigint GENERATED ALWAYS AS (k * 2)) "
        f"USING snapshot LOCATION '{t}'"
    )
    return cat, t


def test_zordered_on_omitted_generated_column(spark, default_table):
    cat, t = default_table
    S.snapshot_write(
        spark.range(16).selectExpr("id AS k"), t, zorder_by=["k", "g"], n_files=2
    )
    got = sorted(tuple(r) for r in
                 S.snapshot_read(spark, t).select("k", "v", "g").collect())
    assert len(got) == 16
    assert all(v == 7 and g == 2 * k for k, v, g in got)
    # the layout actually clustered: per-file stats exist for both cols
    m = S._read_manifest(t, S.current_version(t))
    assert all("g" in s for s in m["stats"].values())


def test_zordered_n_on_omitted_wdefault_column(spark, default_table):
    cat, t = default_table
    S.snapshot_write(
        spark.range(8).selectExpr("id AS k"), t, zorder_by=["k", "v"], n_files=2
    )
    got = sorted(tuple(r) for r in
                 S.snapshot_read(spark, t).select("k", "v", "g").collect())
    assert len(got) == 8
    assert all(v == 7 and g == 2 * k for k, v, g in got)


# ---------------------------------------------------------------------------
# 3. round-16 probe finds: additive-append visibility, mapping x bucketed
# ---------------------------------------------------------------------------

def test_additive_append_stamps_types_and_is_visible(spark, tmp_path):
    """THE round-16 probe find: _apply_type_widening's metadata-free
    fast path treated a MISSING column as matching, so an additive
    append (batch carries a column the table lacks) wrote its data into
    files but never stamped the types map — every read kept the old
    footer schema and silently DROPPED the new column's values. The
    fast path now requires column-set equality; the additive batch
    stamps the map and reads surface all columns with NULL fill."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "a"
    S.snapshot_write(spark.range(4).selectExpr("id AS k", "id % 7 AS v"), t)
    S.snapshot_append(
        spark.range(10, 12).selectExpr("id AS k", "id % 7 AS vv"), t
    )
    m = S._read_manifest(t, S.current_version(t))
    assert m.get("types") == {"k": "bigint", "v": "bigint",
                              "vv": "bigint"}
    rows = sorted(tuple(r) for r in S.snapshot_read(spark, t).collect())
    assert rows == [
        (0, 0, None), (1, 1, None), (2, 2, None), (3, 3, None),
        (10, None, 3), (11, None, 4),
    ]
    # narrow append: NULL-fills, keeps the map complete
    S.snapshot_append(spark.range(20, 21).selectExpr("id AS k"), t)
    assert (20, None, None) in {
        tuple(r) for r in S.snapshot_read(spark, t).collect()
    }
    # time travel still shows the pre-evolution schema
    assert S.snapshot_read(spark, t, version=1).columns == ["k", "v"]


def test_enable_column_mapping_refuses_bucketed_tables(spark, tmp_path):
    """The reverse direction of snapshot_write's bucket_by mapped-table
    refusal (one-way contract, both directions): enabling mapping on a
    bucketed table would let a bucket-column rename land while the
    bucketed view keeps exposing the frozen physical spelling."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "b"
    S.snapshot_write(
        spark.range(20).selectExpr("id AS k", "id % 7 AS v"), t, bucket_by=("k", 4))
    with pytest.raises(ValueError, match="BUCKETED"):
        S.snapshot_enable_column_mapping(spark, t)
    # rewriting through snapshot_write drops the layout; mapping then
    # enables cleanly (the documented escape hatch)
    S.snapshot_write(S.snapshot_read(spark, t), t)
    S.snapshot_enable_column_mapping(spark, t)
    S.snapshot_rename_column(t, "k", "kk")
    assert S.snapshot_read(spark, t).columns == ["kk", "v"]


def test_compact_merged_folds_racing_append(spark, tmp_path, monkeypatch):
    """snapshot_compact(merge=...)'s docstring contract, raced for real: a
    delta-row append landing between the compactor's read and its
    commit must be FOLDED by the conflict retry, never dropped (a
    full-replace rebase that recommitted the stale file set would lose
    the racer's rows)."""
    from pyspark.sql import functions as F

    t = tmp_path / "m"
    S.snapshot_write(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, cnt long"), t
    )
    S.snapshot_append(
        spark.createDataFrame([(1, 5)], "k long, cnt long"), t
    )
    real_commit = S._commit
    state = {"injected": False}

    def racing_commit(p_, files_, parent_, **kw):
        if not state["injected"]:
            state["injected"] = True
            S.snapshot_append(
                spark.createDataFrame([(2, 7), (3, 1)], "k long, cnt long"),
                t,
            )
        return real_commit(p_, files_, parent_, **kw)

    monkeypatch.setattr(S, "_commit", racing_commit)
    S.snapshot_compact(
        spark, t,
        merge=lambda d: d.groupBy("k").agg(
            F.sum("cnt").cast("long").alias("cnt")
        ),
    )
    monkeypatch.undo()
    got = {r["k"]: r["cnt"] for r in S.snapshot_read(spark, t).collect()}
    # racer's rows folded in: k=2 sums both generations, k=3 survives
    assert got == {1: 15, 2: 27, 3: 1}
    # and the fold actually collapsed to one row per key
    assert S.snapshot_read(spark, t).count() == 3


def test_plain_compact_folds_racing_append(spark, tmp_path, monkeypatch):
    """snapshot_compact's conflict loop (previously untested): an
    append landing mid-compaction forces a re-read of the new tip —
    the racer's rows survive the rewrite."""
    t = tmp_path / "pc"
    S.snapshot_write(spark.range(20).selectExpr("id AS k", "id AS v"), t)
    real_commit = S._commit
    state = {"injected": False}

    def racing_commit(p_, files_, parent_, **kw):
        if not state["injected"]:
            state["injected"] = True
            S.snapshot_append(
                spark.createDataFrame([(100, 100)], "k long, v long"), t
            )
        return real_commit(p_, files_, parent_, **kw)

    monkeypatch.setattr(S, "_commit", racing_commit)
    S.snapshot_compact(spark, t, target_files=2)
    monkeypatch.undo()
    assert S.snapshot_read(spark, t).count() == 21
    assert S.snapshot_read(spark, t).where("k = 100").count() == 1
