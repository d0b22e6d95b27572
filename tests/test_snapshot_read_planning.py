"""Snapshot reads plan on the driver: a read of Spark-written files gets
its schema from the one footer Spark's own inference would open, so
planning ``snapshot_read`` (and a catalog view over it) starts no Spark
job. The driver-built schema must equal Spark's inferred one exactly."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from energy_datalake_solution_spark.sources import snapshots as S
from energy_datalake_solution_spark.sources.snapshot_catalog import (
    SnapshotCatalog,
)


def _files(t) -> list[str]:
    return list(S._read_manifest(t, S.current_version(t))["files"])


def _driver_schema(spark, t, rels):
    return S._read_files_with_dv(spark, t, rels, None).schema


def _spark_schema(spark, t, rels):
    return spark.read.parquet(*[str(t / f) for f in rels]).schema


def _jobs_in(spark, group: str, fn) -> int:
    """Spark jobs ``fn()`` starts, counted by job group once the listener
    bus has delivered their events."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_driver_schema_equals_spark_inference(spark, tmp_path):
    """Every column family Spark writes: INT96 and ``timestamp_ntz``
    timestamps, decimals, dates, nested struct/array/map columns and
    field metadata."""
    t = tmp_path / "t"
    df = spark.range(6).select(
        F.col("id").alias("k"),
        F.col("id").cast("int").alias("i"),
        (F.col("id") / 3).cast("decimal(12,3)").alias("dec"),
        F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
        F.expr("cast(timestamp_seconds(id) AS timestamp_ntz)").alias("ntz"),
        F.expr("date_add(date'2024-01-01', cast(id AS int))").alias("d"),
        F.struct(F.col("id").alias("a"), F.lit("s").alias("b")).alias("st"),
        F.array(F.col("id"), F.lit(None).cast("long")).alias("arr"),
        F.create_map(F.lit("m"), F.col("id")).alias("mp"),
        F.col("id").cast("string").alias("c", metadata={"comment": "note"}),
    )
    S.snapshot_write(df, t, n_files=3)
    rels = _files(t)
    assert len(rels) == 3
    got = _driver_schema(spark, t, rels)
    assert got == _spark_schema(spark, t, rels)
    assert got == S.snapshot_read(spark, t).schema
    assert dict(S.snapshot_read(spark, t).dtypes)["ntz"] == "timestamp_ntz"


def test_driver_schema_opens_the_footer_spark_infers_from(spark, tmp_path):
    """Footers that differ: Spark's inference (mergeSchema off) reads
    the first file of the sorted paths, whatever order the paths come
    in. Listed in the reverse order, the driver must still pick it."""
    t = tmp_path / "t"
    for sub, extra in (("a", "x"), ("b", "y")):
        spark.range(3).select(
            F.col("id").alias("k"),
            F.col("id").cast("int").alias(extra),
        ).coalesce(1).write.parquet(str(t / "data" / sub))
    rels = sorted(
        str(f.relative_to(t)) for f in (t / "data").rglob("*.parquet")
    )
    assert [r.split("/")[1] for r in rels] == ["a", "b"]
    for order in (rels, rels[::-1]):
        got = _driver_schema(spark, t, order)
        assert got == _spark_schema(spark, t, order)
        assert got.fieldNames() == ["k", "x"]


def test_footer_of_another_writer_keeps_spark_inference(spark, tmp_path):
    """A footer without Spark's row metadata (here pyarrow's) carries no
    schema Spark wrote: the read leaves the inference to Spark."""
    t = tmp_path / "t"
    (t / "data").mkdir(parents=True)
    pq.write_table(
        pa.table({"k": pa.array([1, 2], pa.int64()),
                  "s": pa.array(["a", None])}),
        t / "data" / "part-0.parquet",
    )
    rels = ["data/part-0.parquet"]
    assert S._written_schema(str(t / rels[0])) is None
    assert _driver_schema(spark, t, rels) == _spark_schema(spark, t, rels)


def test_planning_a_spark_written_table_starts_no_job(spark, tmp_path):
    """Planning a snapshot read (deletion vectors included) and a
    catalog view over it reads the manifest and one cached footer on the
    driver: no Spark job until the frame is evaluated."""
    t = tmp_path / "t"
    S.snapshot_write(
        spark.range(40).selectExpr("id AS k", "id * 2 AS v"), t, n_files=4
    )
    S.snapshot_delete_range_mor(spark, t, "k", 3, 5)
    assert _jobs_in(spark, "plan-snapshot-read",
                    lambda: S.snapshot_read(spark, t).schema) == 0

    cat = SnapshotCatalog(spark)

    def plan_view():
        cat.create_table("planned", str(t))
        return cat.sql("SELECT k, v FROM planned WHERE k > 1").schema

    assert _jobs_in(spark, "plan-catalog-view", plan_view) == 0
    assert cat.sql("SELECT count(*) AS n FROM planned").first().n == 37
