"""Bucketed join layout in the snapshot format.

``snapshot_write(..., bucket_by=...)`` records a bucket spec in the manifest and
writes Spark-bucket-named files; ``snapshot_bucketed_table`` registers a
version's exact file list as an external bucketed catalog table, so two
snapshot tables bucketed the same way JOIN WITH ZERO EXCHANGE — the
snapshot-format mirror of tests/test_plan_shapes.py::
test_bucketed_join_has_no_exchange. Appends honor the spec (bucket files
compose); writers that would silently invalidate the layout are caught
at view registration, never silently mis-bucketed.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from energy_datalake_solution_spark.sources.snapshots import (
    current_version,
    snapshot_append,
    snapshot_bucketed_table,
    snapshot_read,
    snapshot_write,
)

from .conftest import SF_ORACLE


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture()
def bucketed_pair(spark, tmp_path):
    o = spark.read.parquet(f"{SF_ORACLE}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = spark.read.parquet(f"{SF_ORACLE}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    t_o, t_c = tmp_path / "orders", tmp_path / "customer"
    snapshot_write(o, t_o, bucket_by=("o_custkey", 8))
    snapshot_write(c, t_c, bucket_by=("c_custkey", 8))
    yield t_o, t_c, o, c
    for name in ("bt_orders", "bt_customer"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_snapshot_join_has_no_exchange(spark, bucketed_pair):
    t_o, t_c, o, c = bucketed_pair
    a = snapshot_bucketed_table(spark, t_o, "bt_orders")
    b = snapshot_bucketed_table(spark, t_c, "bt_customer")
    j = a.join(b.hint("merge"), a.o_custkey == b.c_custkey)
    plan = _plan(j)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, "bucketed snapshot join must not shuffle"
    want = o.join(c, o.o_custkey == c.c_custkey).count()
    assert j.count() == want


def test_bucketed_append_composes_and_still_no_exchange(spark, bucketed_pair):
    t_o, t_c, o, c = bucketed_pair
    extra = spark.createDataFrame(
        [(900001, 1, 5.0), (900002, 2, 6.0)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    snapshot_append(extra, t_o)
    a = snapshot_bucketed_table(spark, t_o, "bt_orders")
    b = snapshot_bucketed_table(spark, t_c, "bt_customer")
    j = a.join(b.hint("merge"), a.o_custkey == b.c_custkey)
    assert "Exchange" not in _plan(j)
    base = o.join(c, o.o_custkey == c.c_custkey).count()
    assert j.count() == base + 2  # custkeys 1 and 2 exist in customer
    # the bucketed view equals the library read row-for-row
    assert a.count() == snapshot_read(spark, t_o).count()


def test_unbucketed_writer_is_caught_at_view_registration(spark, bucketed_pair):
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_update_where,
    )

    t_o, _, _, _ = bucketed_pair
    # MOR update appends image files outside the bucketed path AND grows
    # deletion vectors — both individually disqualifying
    snapshot_update_where(
        spark, t_o, "o_orderkey = 1", {"o_totalprice": "o_totalprice + 1"}
    )
    with pytest.raises(ValueError, match="bucket|vector"):
        snapshot_bucketed_table(spark, t_o, "bt_orders")
    # but the prior, purely-bucketed version still registers (time travel)
    v = current_version(t_o) - 1
    a = snapshot_bucketed_table(spark, t_o, "bt_orders", version=v)
    assert a.count() > 0


def test_bucketed_spec_cleared_by_plain_full_replace(spark, tmp_path):
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        snapshot_write,
    )

    t = tmp_path / "t"
    df = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    snapshot_write(df, t, bucket_by=("k", 4))
    spec = _read_manifest(t, current_version(t)).get("bucketing")
    assert spec["col"] == "k" and spec["n"] == 4 and "bigint" in spec["ddl"]
    snapshot_write(df, t)  # plain full replace: unbucketed files
    assert _read_manifest(t, current_version(t)).get("bucketing") is None
    with pytest.raises(ValueError, match="no bucketed layout"):
        snapshot_bucketed_table(spark, t, "bt_t")


def test_bucketed_rejects_column_mapped_tables(spark, tmp_path):
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_enable_column_mapping,
        snapshot_write,
    )

    t = tmp_path / "t"
    df = spark.range(10).selectExpr("id AS k", "id * 2 AS v")
    snapshot_write(df, t)
    snapshot_enable_column_mapping(spark, t)
    with pytest.raises(ValueError, match="column-mapped"):
        snapshot_write(df, t, bucket_by=("k", 4))


def test_vacuum_drops_stale_bucketed_view_dirs(spark, tmp_path):
    """Vacuum removes the symlink view dirs of reclaimed versions (their
    targets are gone) and keeps the live version's; re-registration
    after vacuum works."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_vacuum,
        snapshot_write,
    )

    t = tmp_path / "t"
    df = spark.range(50).selectExpr("id AS k", "id * 2 AS v")
    snapshot_write(df, t, bucket_by=("k", 4))            # v1
    snapshot_bucketed_table(spark, t, "bv_t", version=1)
    snapshot_write(df.limit(20), t, bucket_by=("k", 4))  # v2
    snapshot_bucketed_table(spark, t, "bv_t")         # v2 view dir
    assert (t / "_bucketed" / "v1").exists()
    snapshot_vacuum(t, keep_versions=1)
    assert not (t / "_bucketed" / "v1").exists()
    assert (t / "_bucketed" / "v2").exists()
    a = snapshot_bucketed_table(spark, t, "bv_t")
    assert a.count() == 20
    spark.sql("DROP TABLE IF EXISTS bv_t")
