"""Catalog views equal the library read: for every table shape the
format supports, ``SELECT * FROM t`` through :class:`SnapshotCatalog`
returns the rows of ``snapshot_read(spark, path, v)`` at the version the
view is pinned to, with the same column names, types and nullability;
so does the batch ``read.format("snapshot")`` data source.
DESCRIBE TABLE and SHOW CREATE TABLE are pinned verbatim on one table
that carries every column decoration."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from energy_datalake_solution_spark.sources import snapshots as S
from energy_datalake_solution_spark.sources.snapshot_catalog import (
    SnapshotCatalog,
)
from energy_datalake_solution_spark.sources.snapshot_datasource import (
    SnapshotDataSource,
)


def _shape(df) -> list:
    return [(f.name, f.dataType, f.nullable) for f in df.schema.fields]


def _rows(df) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _assert_parity(view, lib) -> None:
    assert _shape(view) == _shape(lib)
    assert _rows(view) == _rows(lib)


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        F.concat(F.lit("x"), F.col("id").cast("string")).alias("x"),
    )


def _mapped_rename_drop(spark, cat, t):
    S.snapshot_write(_kv(spark, 0, 6), t, n_files=2)
    S.snapshot_enable_column_mapping(spark, t)
    S.snapshot_rename_column(t, "v", "w")
    S.snapshot_drop_column(t, "x")
    S.snapshot_append(
        spark.range(6, 9).selectExpr("id AS k", "id * 10 AS w"), t
    )


def _default_on_pre_add_files(spark, cat, t):
    S.snapshot_write(_kv(spark, 0, 6).drop("x"), t, n_files=2)
    cat.sql(f"CREATE TABLE pv USING snapshot LOCATION '{t}'")
    cat.sql("ALTER TABLE pv ADD COLUMN score bigint DEFAULT 7")


def _generated_and_identity(spark, cat, t):
    cat.sql(
        f"CREATE TABLE pv (id bigint GENERATED ALWAYS AS IDENTITY, "
        f"k bigint, b bigint GENERATED ALWAYS AS (k % 4)) "
        f"USING snapshot LOCATION '{t}'"
    )
    cat.sql("INSERT INTO pv (k) SELECT id FROM range(6)")


def _mor_deletion_vectors(spark, cat, t):
    S.snapshot_write(_kv(spark, 0, 12), t, n_files=3)
    S.snapshot_delete_range_mor(spark, t, "k", 2, 4)
    S.snapshot_delete_range_mor(spark, t, "k", 9, 9)


def _widened_type(spark, cat, t):
    S.snapshot_write(
        spark.range(4).selectExpr("cast(id AS int) AS k", "id AS v"), t
    )
    S.snapshot_append(
        spark.createDataFrame([(2**40, 7)], "k long, v long"), t
    )


def _int96(spark, cat, t):
    # Spark writes TIMESTAMP as parquet INT96 unless told otherwise
    S.snapshot_write(
        spark.range(4).select(
            F.col("id").alias("k"),
            F.timestamp_seconds(F.col("id") * 3600 + 1_700_000_000)
            .alias("ts"),
        ),
        t,
    )


def _timestamp_ntz(spark, cat, t):
    S.snapshot_write(
        spark.range(4).selectExpr(
            "id AS k",
            "cast(timestamp_seconds(id * 3600 + 1700000000) AS timestamp_ntz)"
            " AS ts",
        ),
        t,
    )


def _truncated_after_vacuum(spark, cat, t):
    S.snapshot_write(_kv(spark, 0, 4), t)
    S.snapshot_append(_kv(spark, 4, 6), t)
    S.snapshot_truncate(t)
    S.snapshot_vacuum(t, keep_versions=1)


_SHAPES = {
    "mapped_rename_drop": _mapped_rename_drop,
    "default_on_pre_add_files": _default_on_pre_add_files,
    "generated_and_identity": _generated_and_identity,
    "mor_deletion_vectors": _mor_deletion_vectors,
    "widened_type": _widened_type,
    "truncated_after_vacuum": _truncated_after_vacuum,
    "int96": _int96,
    "timestamp_ntz": _timestamp_ntz,
}


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_catalog_view_equals_snapshot_read(spark, tmp_path, shape):
    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    _SHAPES[shape](spark, cat, t)
    cat.drop_table("pv", if_exists=True)
    cat.create_table("pv", str(t))
    _assert_parity(
        cat.sql("SELECT * FROM pv"),
        S.snapshot_read(spark, t, version=S.current_version(t)),
    )


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_snapshot_format_equals_snapshot_read(spark, tmp_path, shape):
    """The batch ``read.format("snapshot")`` reader (the Python data
    source, kept for external callers) returns what ``snapshot_read``
    does at the tip: ``timestamp_ntz`` stays ``timestamp_ntz``, and a
    truncated table without column mapping reads as its typed empty
    frame."""
    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    _SHAPES[shape](spark, cat, t)
    cat.drop_table("pv", if_exists=True)
    spark.dataSource.register(SnapshotDataSource)
    _assert_parity(
        spark.read.format("snapshot").option("path", str(t)).load(),
        S.snapshot_read(spark, t),
    )


def test_staged_view_equals_snapshot_read_of_staged_version(spark, tmp_path):
    """Inside BEGIN ... the view reads this session's staged version
    (read-your-own-writes), which is what ``snapshot_read`` returns for
    that version; the public tip is unchanged until COMMIT."""
    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    S.snapshot_write(_kv(spark, 0, 4), t)
    cat.create_table("st", str(t))
    tip = S.current_version(t)
    cat.sql("BEGIN")
    try:
        cat.sql("INSERT INTO st SELECT 9 AS k, 90 AS v, 'x9' AS x")
        staged = cat._txn._staged_version(str(t))
        assert staged is not None and staged != tip
        _assert_parity(
            cat.sql("SELECT * FROM st"),
            S.snapshot_read(spark, t, version=staged),
        )
        assert int((t / S._LATEST).read_text()) == tip
    finally:
        cat.sql("ROLLBACK")
    _assert_parity(cat.sql("SELECT * FROM st"), S.snapshot_read(spark, t))


def test_time_travel_views_equal_snapshot_read(spark, tmp_path):
    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    S.snapshot_write(_kv(spark, 0, 4), t)
    v1 = S.current_version(t)
    time.sleep(0.01)
    cut = time.time()
    time.sleep(0.01)
    S.snapshot_append(_kv(spark, 4, 7), t)
    S.snapshot_delete_range_mor(spark, t, "k", 0, 1)
    cat.create_table("tt", str(t))
    _assert_parity(
        cat.sql(f"SELECT * FROM tt VERSION AS OF {v1 + 1}"),
        S.snapshot_read(spark, t, version=v1 + 1),
    )
    _assert_parity(
        cat.sql(f"SELECT * FROM tt TIMESTAMP AS OF {cut}"),
        S.snapshot_read(spark, t, version=v1),
    )
    # a registration pinned by DDL reads the same frame as the library
    cat.sql(
        f"CREATE TABLE tt1 USING snapshot LOCATION '{t}' VERSION AS OF {v1}"
    )
    _assert_parity(
        cat.sql("SELECT * FROM tt1"), S.snapshot_read(spark, t, version=v1)
    )


def test_describe_and_show_create_are_pinned(spark, tmp_path):
    """DESCRIBE TABLE and SHOW CREATE TABLE of a table carrying every
    column decoration (identity, generated, DEFAULT, a renamed and a
    widened column), verbatim."""
    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    cat.sql(
        f"CREATE TABLE dc (id bigint GENERATED ALWAYS AS IDENTITY, "
        f"k int, v string DEFAULT 'd', b int GENERATED ALWAYS AS (k % 4)) "
        f"USING snapshot LOCATION '{t}'"
    )
    cat.sql("INSERT INTO dc (k) SELECT cast(id AS int) FROM range(3)")
    cat.sql("ALTER TABLE dc RENAME COLUMN v TO tag")
    cat.sql("ALTER TABLE dc ALTER COLUMN k TYPE bigint")
    cat.sql("ALTER TABLE dc ADD COLUMN score double DEFAULT 1.5")
    desc = [tuple(r) for r in cat.sql("DESCRIBE TABLE dc").collect()]
    assert desc == [
        ("id", "bigint",
         "GENERATED ALWAYS AS IDENTITY (START WITH 1 INCREMENT BY 1)", None),
        ("k", "bigint", None, None),
        ("tag", "string", "DEFAULT 'd'", None),
        ("b", "int", "GENERATED ALWAYS AS (k % 4)", None),
        ("score", "double", "DEFAULT 1.5", None),
    ]
    show = cat.sql("SHOW CREATE TABLE dc").first()[0]
    assert show == (
        "CREATE TABLE dc (\n"
        "  id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 1 INCREMENT BY 1),\n"
        "  k BIGINT,\n"
        "  tag STRING DEFAULT 'd',\n"
        "  b INT GENERATED ALWAYS AS (k % 4),\n"
        "  score DOUBLE DEFAULT 1.5\n"
        f") USING snapshot\nLOCATION '{t}'"
    )
