"""Z-order layout: the locality guarantee that justifies the operator.

The oracle gate (driver + test_queries_oracle) proves the z-values and
bucket stats match SQL; this file asserts the PROPERTY the layout exists
for — every z-bucket covers a small Morton cell in (x, y), so parquet
min/max stats prune scans on either dimension — and contrasts it with a
single-key sort, which leaves the minor dimension unprunable.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from energy_datalake_solution_spark.operators.layout import (
    Z_BITS,
    Z_BUCKETS,
    lineitem_zorder_layout,
)

from .conftest import SF_ORACLE


def test_zorder_buckets_cover_small_morton_cells(spark):
    rows = lineitem_zorder_layout(spark, SF_ORACLE).collect()
    assert 1 < len(rows) <= Z_BUCKETS
    # 64 buckets of a 20-bit curve fix the top 3 bits of each dimension:
    # every bucket's span is <= 2^(10-3) = 128 in BOTH x and y.
    cell_span = 1 << (Z_BITS - 3)
    total = 0
    for r in rows:
        assert r.x_max - r.x_min < cell_span, r
        assert r.y_max - r.y_min < cell_span, r
        total += r.n_rows
    # bucket stats partition the table: no rows dropped or double-counted
    from energy_datalake_solution_spark.sources.catalog import load_table

    assert total == load_table(spark, SF_ORACLE, "lineitem").count()


def test_zorder_beats_single_key_sort_on_minor_dimension(spark):
    """The point of z-order: a single-key layout leaves the OTHER key's
    per-file span at ~full range (no pruning); z-order bounds both."""
    from energy_datalake_solution_spark.sources.catalog import load_table

    li = load_table(spark, SF_ORACLE, "lineitem").select(
        F.pmod("l_orderkey", F.lit(1 << Z_BITS)).cast("long").alias("x"),
        F.pmod("l_partkey", F.lit(1 << Z_BITS)).cast("long").alias("y"),
    )
    # single-key layout: range-bucket on x alone (what ORDER BY x gives)
    single = (
        li.groupBy((F.col("x") / F.lit((1 << Z_BITS) / Z_BUCKETS)).cast("bigint").alias("b"))
        .agg((F.max("y") - F.min("y")).alias("y_span"))
        .agg(F.avg("y_span").alias("avg_y_span"))
        .collect()[0]
    )
    z = (
        lineitem_zorder_layout(spark, SF_ORACLE)
        .agg(
            F.avg(F.col("y_max") - F.col("y_min")).alias("avg_y_span"),
            F.avg(F.col("x_max") - F.col("x_min")).alias("avg_x_span"),
        )
        .collect()[0]
    )
    # The synthetic generator correlates partkey with orderkey, so the
    # single-key layout is accidentally part-clustered (avg y span ~195,
    # not the ~1023 independent keys would give) — z-order must still be
    # strictly tighter AND hard-bounded by the 128-wide Morton cell on
    # both dimensions, which no single-key sort can promise for its minor
    # key on any data.
    assert z.avg_y_span < single.avg_y_span * 0.75
    assert z.avg_x_span <= 127 and z.avg_y_span <= 127


def test_zorder_n_columns_prunes_all_dimensions(spark, tmp_path):
    """3-column Morton layout: a corner box prunes to a strict file
    subset via ANY of the three predicates, rows survive exactly, and
    degenerate parameterizations fail loudly."""
    import pytest
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.sinks import zorder_arrange_n
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_read,
        snapshot_write,
    )

    df = spark.range(4096).select(
        (F.col("id") % 16).alias("a"),
        ((F.col("id") / 16).cast("long") % 16).alias("b"),
        ((F.col("id") / 256).cast("long") % 16).alias("c"),
        F.col("id").alias("payload"),
    )
    t = tmp_path / "t"
    snapshot_write(df, t, zorder_by=["a", "b", "c"], n_files=8)
    total = len(_read_manifest(t, current_version(t))["files"])
    assert total == 8
    out = snapshot_read(
        spark, t, where=[{"a": (0, 3), "b": (0, 3), "c": (0, 3)}]
    )
    assert len(out.inputFiles()) < total
    assert out.count() == 4 * 4 * 4 * (4096 // (16 * 16 * 16))
    # rows are exact, not just counted
    got = {(r.a, r.b, r.c) for r in out.collect()}
    assert got == {(a, b, c) for a in range(4) for b in range(4) for c in range(4)}
    # N=1 degenerates to a plain sort-compact (Delta accepts single-
    # column ZORDER; the catalog's 1-col route lands here): the z-code
    # IS the quantile bucket, so rows arrange in key order
    one = zorder_arrange_n(df, ["a"])
    assert [r.a for r in one.collect()] == sorted(r.a for r in df.collect())
    with pytest.raises(ValueError, match="at least 1"):
        zorder_arrange_n(df, [])
    with pytest.raises(ValueError, match="exceeds"):
        zorder_arrange_n(df, ["a", "b", "c"], bits=21)


def test_zorder_on_date_column(spark, tmp_path):
    """Delta's OPTIMIZE ZORDER BY accepts date columns; the Morton
    scaling converts dates to day ordinals (a bare DATE refuses the
    double cast). Box pruning works on the date axis."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "zd"
    df = spark.range(64).selectExpr(
        "date_add(DATE'2026-01-01', CAST(id AS int)) AS day",
        "CAST(id % 8 AS int) AS v",
    )
    S.snapshot_write(df, t, zorder_by=["day", "v"], n_files=4)
    got = S.snapshot_read(spark, t)
    assert got.count() == 64
    import datetime
    pruned = S.snapshot_files(
        t, [{"day": (datetime.date(2026, 1, 1), datetime.date(2026, 1, 8))}]
    )
    allf = S.snapshot_files(
        t, [{"day": (datetime.date(2026, 1, 1), datetime.date(2026, 3, 8))}]
    )
    assert 0 < len(pruned) < len(allf)


def test_zorder_on_string_column_refuses_loudly(spark, tmp_path):
    """A silent NULL bucket would collapse the layout into one file and
    read as clustered when it isn't — strings refuse instead."""
    import pytest

    from energy_datalake_solution_spark.sources.sinks import zorder_arrange_n

    df = spark.range(8).selectExpr("id", "CAST(id AS string) AS s")
    with pytest.raises(ValueError, match="non-orderable-numeric"):
        zorder_arrange_n(df, ["id", "s"]).collect()
