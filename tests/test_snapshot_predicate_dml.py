"""Arbitrary-predicate DELETE/UPDATE on snapshot tables.

``snapshot_delete_where`` / ``snapshot_update_where`` accept any SQL
predicate, recover stats-based file pruning from the predicate text's
conjunctive constraints (the commit-side analogue of Delta's data
skipping), grow deletion vectors on the MOR path, and fall back to
copy-on-write above the row cap. The catalog routes
``DELETE FROM t WHERE <expr>`` / ``UPDATE t SET .. WHERE <expr>``
here after the BETWEEN fast paths.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import pytest

from energy_datalake_solution_spark.sources.snapshot_catalog import (
    SnapshotCatalog,
)
from energy_datalake_solution_spark.sources.snapshots import (
    _predicate_constraints,
    snapshot_delete_where,
    snapshot_files,
    snapshot_read,
    snapshot_update_where,
    snapshot_write,
)


def _file_hashes(p: Path) -> dict[str, str]:
    return {
        str(f.relative_to(p)): hashlib.sha256(f.read_bytes()).hexdigest()
        for f in sorted(p.rglob("*.parquet"))
    }


def _seed(spark, t, n=100, n_files=4):
    snapshot_write(
        spark.range(n).selectExpr(
            "id AS k", "id * 10 AS v",
            "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS tag",
        ),
        t, stats_cols=["k"], n_files=n_files,
    )


# --- constraint extraction (pure) --------------------------------------


def test_predicate_constraints_simple_forms():
    assert _predicate_constraints("k = 5") == {"k": [5, 5]}
    assert _predicate_constraints("k >= 3 AND k < 10") == {"k": [3, 10]}
    assert _predicate_constraints("k BETWEEN 2 AND 8") == {"k": [2, 8]}
    assert _predicate_constraints("d = DATE '2025-01-01'") == {
        "d": ["2025-01-01", "2025-01-01"]
    }
    # conjunct over two columns
    assert _predicate_constraints("k = 5 AND tag = 'odd'") == {
        "k": [5, 5], "tag": ["odd", "odd"],
    }


def test_predicate_constraints_conservative():
    # top-level OR: no pruning at all (precedence would break AND-split)
    assert _predicate_constraints("k = 5 OR k = 90") == {}
    # unparseable conjunct contributes nothing, parseable one still does
    assert _predicate_constraints("k = 5 AND v % 2 = 1 AND f(x) > 3") == {
        "k": [5, 5]
    }
    # BETWEEN's AND must not split the conjunct
    assert _predicate_constraints("k BETWEEN 2 AND 8 AND tag = 'x'") == {
        "k": [2, 8], "tag": ["x", "x"],
    }
    # parenthesized OR inside a conjunct: that conjunct is opaque
    assert _predicate_constraints("(tag = 'a' OR tag = 'b') AND k <= 4") == {
        "k": [None, 4]
    }
    # AND inside a string literal must not split
    assert _predicate_constraints("tag = 'x AND y'") == {"tag": ["x AND y", "x AND y"]}


def test_files_for_predicate_prunes_by_stats(spark, tmp_path):
    t = tmp_path / "t"
    _seed(spark, t, n=100, n_files=4)  # k-ranges [0,24] [25,49] [50,74] [75,99]
    assert len(snapshot_files(t, "k = 5")) == 1
    assert len(snapshot_files(t, "k = 5 AND v > 1")) == 1
    assert len(snapshot_files(t, "k >= 60")) == 2
    # OR of constrained disjuncts prunes to the UNION of their regions
    # (round-11 upgrade from the conservative full set)
    assert len(snapshot_files(t, "k = 5 OR k = 90")) == 2
    assert len(snapshot_files(t, "tag = 'odd'")) == 4  # no tag stats


# --- delete ------------------------------------------------------------


def test_delete_where_equality_is_mor_and_pruned(spark, tmp_path):
    t = tmp_path / "t"
    _seed(spark, t)
    before = _file_hashes(t)
    snapshot_delete_where(spark, t, "k = 5")
    assert _file_hashes(t) == before, "MOR delete must rewrite no file"
    got = {r.k for r in snapshot_read(spark, t).collect()}
    assert 5 not in got and len(got) == 99


def test_delete_where_compound_predicate(spark, tmp_path):
    t = tmp_path / "t"
    _seed(spark, t)
    snapshot_delete_where(spark, t, "k < 10 AND tag = 'odd'")
    got = {r.k for r in snapshot_read(spark, t).collect()}
    assert got == set(range(100)) - {1, 3, 5, 7, 9}


def test_delete_where_null_predicate_deletes_nothing(spark, tmp_path):
    t = tmp_path / "t"
    snapshot_write(
        spark.sql(
            "SELECT id AS k, CASE WHEN id = 3 THEN NULL ELSE id END AS v "
            "FROM range(10)"
        ),
        t, stats_cols=["k"], n_files=1,
    )
    snapshot_delete_where(spark, t, "v > 100")  # NULL > 100 -> no delete
    assert snapshot_read(spark, t).count() == 10
    snapshot_delete_where(spark, t, "v IS NULL")
    assert snapshot_read(spark, t).count() == 9


def test_delete_where_wide_falls_back_to_cow(spark, tmp_path, monkeypatch):
    from energy_datalake_solution_spark.sources import snapshots as S
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
    )

    t = tmp_path / "t"
    _seed(spark, t, n=100, n_files=4)
    m1 = _read_manifest(t, current_version(t))
    monkeypatch.setattr(S, "DV_MAX_DELETED_ROWS", 10)
    snapshot_delete_where(spark, t, "k <= 49")
    m2 = _read_manifest(t, current_version(t))
    # the two touched files left the manifest (rewritten, CoW — not DV);
    # the two unpruned files carried; no deletion vectors grew
    carried = set(m1["files"]) & set(m2["files"])
    assert len(carried) == 2
    assert not (m2.get("dv") or {}), "wide delete must rewrite, not grow DVs"
    got = {r.k for r in snapshot_read(spark, t).collect()}
    assert got == set(range(50, 100))


def test_delete_where_repeat_is_idempotent(spark, tmp_path, monkeypatch):
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "t"
    _seed(spark, t, n=30, n_files=2)
    monkeypatch.setattr(S, "DV_MAX_DELETED_ROWS", 3)
    snapshot_delete_where(spark, t, "k = 5")
    # repeating must not re-count the dead row against the cap
    monkeypatch.setattr(S, "DV_MAX_DELETED_ROWS", 6)
    snapshot_delete_where(spark, t, "k <= 6")
    got = {r.k for r in snapshot_read(spark, t).collect()}
    assert got == set(range(7, 30))


# --- update ------------------------------------------------------------


def test_update_where_equality_is_mor_with_paired_cdf(spark, tmp_path):
    from energy_datalake_solution_spark.sources.snapshots import (
        current_version,
        snapshot_change_feed,
    )

    t = tmp_path / "t"
    _seed(spark, t)
    v1 = current_version(t)
    before = _file_hashes(t)
    snapshot_update_where(spark, t, "k = 7", {"v": "v + 1000"})
    after = _file_hashes(t)
    for f, h in before.items():
        assert after.get(f) == h, "MOR update must not rewrite standing files"
    got = {r.k: r.v for r in snapshot_read(spark, t).collect()}
    assert got[7] == 1070 and got[8] == 80 and len(got) == 100
    cf = snapshot_change_feed(
        spark, t, v1, current_version(t), updates_as="updates"
    )
    types = {r["_change_type"] for r in cf.collect()}
    assert types == {"update_preimage", "update_postimage"}


def test_update_where_string_predicate_and_multiple_sets(spark, tmp_path):
    t = tmp_path / "t"
    _seed(spark, t, n=20, n_files=2)
    snapshot_update_where(
        spark, t, "tag = 'odd' AND k < 5",
        {"v": "v * 2", "tag": "upper(tag)"},
    )
    got = {r.k: (r.v, r.tag) for r in snapshot_read(spark, t).collect()}
    assert got[1] == (20, "ODD") and got[3] == (60, "ODD")
    assert got[5] == (50, "odd") and got[2] == (20, "even")


def test_update_where_wide_falls_back_to_cow(spark, tmp_path, monkeypatch):
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "t"
    _seed(spark, t, n=100, n_files=4)
    monkeypatch.setattr(S, "DV_MAX_DELETED_ROWS", 10)
    snapshot_update_where(spark, t, "k < 50", {"v": "v + 1"})
    got = {r.k: r.v for r in snapshot_read(spark, t).collect()}
    assert got[0] == 1 and got[49] == 491 and got[50] == 500
    assert len(got) == 100


# --- catalog SQL surface ----------------------------------------------


def test_catalog_general_predicate_delete_update(spark, tmp_path):
    cat = SnapshotCatalog(spark)
    t = tmp_path / "fact"
    _seed(spark, t, n=50, n_files=2)
    cat.sql(f"CREATE TABLE fact USING snapshot LOCATION '{t}'")
    cat.sql("DELETE FROM fact WHERE k = 5")
    assert cat.sql("SELECT count(*) AS n FROM fact").first().n == 49
    cat.sql("DELETE FROM fact WHERE k >= 40 AND tag = 'odd'")
    assert cat.sql("SELECT count(*) AS n FROM fact").first().n == 44
    cat.sql("UPDATE fact SET v = v + 7 WHERE k = 10")
    got = {r.k: r.v for r in cat.sql("SELECT * FROM fact").collect()}
    assert got[10] == 107 and got[11] == 110
    # BETWEEN still routes through the range fast path, same answers
    cat.sql("DELETE FROM fact WHERE k BETWEEN 0 AND 2")
    assert cat.sql("SELECT count(*) AS n FROM fact").first().n == 41


def test_catalog_predicate_delete_on_pinned_table_rejected(spark, tmp_path):
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_append,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "fact"
    _seed(spark, t, n=10, n_files=1)
    snapshot_append(
        spark.range(1).selectExpr("id + 100 AS k", "id AS v", "'x' AS tag"), t
    )
    cat.sql(
        f"CREATE TABLE fact USING snapshot LOCATION '{t}' VERSION AS OF 1"
    )
    with pytest.raises(ValueError, match="read-only"):
        cat.sql("DELETE FROM fact WHERE k = 5")


def test_or_of_ranges_prunes_to_union(spark, tmp_path):
    """A top-level OR whose every disjunct binds constraints prunes to
    the UNION of the disjunct regions: 'k BETWEEN a AND b OR k BETWEEN
    c AND d' over disjoint ranges touches only matching files; an
    opaque arm ('... OR junk') disables pruning; correctness unchanged
    on mixed ORs."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_delete_where,
        snapshot_files,
        snapshot_read,
        snapshot_write,
    )

    t = tmp_path / "t"
    # 4 files over disjoint key quartiles (range-sorted write)
    snapshot_write(
        spark.range(400).selectExpr("id AS k", "id * 10 AS v"), t,
        stats_cols=["k"], n_files=4,
    )
    all_files = snapshot_files(t, "k >= 0")
    assert len(all_files) == 4
    # union of two disjoint ranges -> exactly the two covering files
    fs = snapshot_files(t, "k BETWEEN 10 AND 20 OR k BETWEEN 310 AND 320")
    assert len(fs) == 2
    # parenthesized disjuncts extract too
    fs = snapshot_files(t, "(k BETWEEN 10 AND 20) OR (k BETWEEN 310 AND 320)")
    assert len(fs) == 2
    # equality disjuncts
    fs = snapshot_files(t, "k = 5 OR k = 399")
    assert len(fs) == 2
    # conjunctive disjunct arms contribute their own bounds
    fs = snapshot_files(t, "(k >= 10 AND k <= 20) OR (k >= 310 AND k <= 320)")
    assert len(fs) == 2
    # one opaque arm -> whole OR unprunable (conservative full set)
    fs = snapshot_files(t, "k BETWEEN 10 AND 20 OR v < 0")
    assert len(fs) == 4
    fs = snapshot_files(t, "k BETWEEN 10 AND 20 OR k % 7 = 0")
    assert len(fs) == 4
    # correctness through the DML path: delete an OR of ranges, re-read
    snapshot_delete_where(
        spark, t, "k BETWEEN 10 AND 20 OR k BETWEEN 310 AND 320"
    )
    got = {r.k for r in snapshot_read(spark, t).collect()}
    assert got == set(range(400)) - set(range(10, 21)) - set(range(310, 321))
