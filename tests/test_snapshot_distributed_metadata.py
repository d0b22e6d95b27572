"""Driver-bounded metadata sweeps: footer reads above the stats
collector's 64-file bound run as Spark jobs, not driver loops.

Every per-file footer read — the widening bootstrap (`_footer_types` on
a no-types-map table), the stats and bloom collectors, and the change
feed's provenance probe — scales with the file count and goes through
one sweep (`_footer_sweep`); past _DRIVER_STATS_MAX_FILES it
distributes, so the driver folds only column-count-sized results no
matter how many files a version lists.
"""

from __future__ import annotations

import pytest

from energy_datalake_solution_spark.sources import snapshots as S
from energy_datalake_solution_spark.sources.snapshots import (
    _footer_types,
    current_version,
    snapshot_append,
    snapshot_read,
    snapshot_write,
)


@pytest.fixture()
def wide_table(spark, tmp_path):
    """A table listing > _DRIVER_STATS_MAX_FILES files, no types map."""
    t = tmp_path / "t"
    n_files = S._DRIVER_STATS_MAX_FILES + 16
    snapshot_write(
        spark.range(n_files * 4).selectExpr(
            "CAST(id AS int) AS k", "CAST(id AS int) AS v"
        ),
        t, stats_cols=["k"], n_files=n_files,
    )
    return t, n_files


def test_distributed_footer_sweep_matches_driver_loop(spark, wide_table):
    t, n_files = wide_table
    files = S._read_manifest(t, current_version(t))["files"]
    assert len(files) == n_files
    assert (
        _footer_types(t, files, spark=spark)      # distributed branch
        == _footer_types(t, files)                # driver loop
        == {"k": "int", "v": "int"}
    )


def test_widening_bootstrap_does_no_driver_file_loop(spark, wide_table, monkeypatch):
    """A widening append to a no-types-map table wider than the bound
    must not probe footers one by one on the driver: at most the
    single-footer fast-path probe runs locally; the sweep distributes
    (driver-side per-file calls stay O(1), not O(files))."""
    t, _ = wide_table
    calls = []
    real = S._file_footer_types

    def counting(path):
        calls.append(path)
        return real(path)

    monkeypatch.setattr(S, "_file_footer_types", counting)
    snapshot_append(
        spark.createDataFrame([(10**10, 1)], "k long, v long"), t
    )
    assert len(calls) <= 1, (
        f"driver probed {len(calls)} footers — the sweep did not distribute"
    )
    m = S._read_manifest(t, current_version(t))
    assert m.get("types", {}).get("k") == "bigint"
    got = {r.k for r in snapshot_read(spark, t).collect()}
    assert 10**10 in got


def test_change_feed_prov_probe_distributes_on_wide_windows(spark, tmp_path):
    """A change-feed window adding more files than the bound classifies
    provenance-carrying files through the distributed probe — update
    pairing stays correct."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_change_feed,
        snapshot_update_range_mor,
    )

    t = tmp_path / "t"
    snapshot_write(
        spark.range(100).selectExpr("id AS k", "id AS v"), t, stats_cols=["k"],
        n_files=2,
    )
    v1 = current_version(t)
    # one commit adding (bound + 8) plain files...
    n_plain = S._DRIVER_STATS_MAX_FILES + 8
    snapshot_append(
        spark.range(1000, 1000 + n_plain).selectExpr("id AS k", "id AS v")
        .repartition(n_plain),
        t,
    )
    # ...plus a MOR update whose image file carries provenance
    snapshot_update_range_mor(spark, t, "k", 5, 9, {"v": "v + 1000"})
    cf = snapshot_change_feed(
        spark, t, v1, current_version(t), updates_as="updates"
    )
    by_type = {
        r["_change_type"]: r["n"]
        for r in cf.groupBy("_change_type").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert by_type.get("insert", 0) == n_plain
    assert by_type.get("update_preimage", 0) == 5
    assert by_type.get("update_postimage", 0) == 5
    assert "delete" not in by_type
