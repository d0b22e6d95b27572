"""Conditional MERGE (Delta's WHEN-clause form) on snapshot tables.

``snapshot_merge`` generalizes the reference's J1 staging merge
(reference: glue_jobs/etl-s3-processed-to-redshift.py:66-96, a
delete-then-insert upsert) to the full conditional form: WHEN MATCHED
[AND cond] THEN UPDATE SET .. / DELETE, WHEN NOT MATCHED [AND cond]
THEN INSERT. Scale contract: stats-pruned file touching (CoW rewrite
only when an UPDATE arm exists; MOR deletion vectors + append when not),
untouched files byte-identical, optimistic-concurrency rebases.
"""

from __future__ import annotations

import hashlib
import threading
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from energy_datalake_solution_spark.sources.snapshot_catalog import (
    SnapshotCatalog,
)
from energy_datalake_solution_spark.sources.snapshots import (
    current_version,
    snapshot_history,
    snapshot_merge,
    snapshot_read,
    snapshot_write,
)


def _file_hashes(p: Path) -> dict[str, str]:
    return {
        str(f.relative_to(p)): hashlib.sha256(f.read_bytes()).hexdigest()
        for f in sorted(p.rglob("*.parquet"))
    }


def _seed(spark, t, n=100, n_files=4):
    snapshot_write(
        spark.range(n).selectExpr("id AS k", "id * 10 AS v", "'base' AS tag"),
        t, stats_cols=["k"], n_files=n_files,
    )


def test_merge_clause_semantics_cow(spark, tmp_path):
    """UPDATE arm fires when its condition holds; otherwise the DELETE
    arm; otherwise the matched row carries; unmatched source rows insert
    when the insert condition holds. Oracle: plain Python over dicts."""
    t = tmp_path / "t"
    _seed(spark, t)
    src = spark.createDataFrame(
        [
            (5, 555, "upd"),     # matched, v>t.v  -> UPDATE
            (6, -1, "del"),      # matched, cond false, delete cond -> DELETE
            (7, 70, "carry"),    # matched, both conds false -> carry
            (1000, 1, "new"),    # unmatched, insert cond true -> INSERT
            (2000, -5, "skip"),  # unmatched, insert cond false -> skipped
        ],
        "k long, v long, tag string",
    )
    snapshot_merge(
        spark, src, t, ["k"],
        matched_update={"v": "s.v", "tag": "s.tag"},
        matched_update_condition="s.v > t.v",
        matched_delete=True,
        matched_delete_condition="s.v < 0",
        not_matched_insert=True,
        not_matched_condition="s.v > 0",
    )
    got = {r.k: (r.v, r.tag) for r in snapshot_read(spark, t).collect()}
    want = {k: (k * 10, "base") for k in range(100)}
    want[5] = (555, "upd")
    del want[6]
    want[1000] = (1, "new")
    assert got == want


def test_merge_update_beats_delete_when_both_fire(spark, tmp_path):
    """Clause order: UPDATE evaluates before DELETE (Delta semantics)."""
    t = tmp_path / "t"
    _seed(spark, t, n=10, n_files=1)
    src = spark.createDataFrame([(3, 999, "x")], "k long, v long, tag string")
    snapshot_merge(
        spark, src, t, ["k"],
        matched_update={"v": "s.v"},
        matched_update_condition="s.v > 0",
        matched_delete=True,
        matched_delete_condition="s.v > 0",  # also true — must NOT fire
    )
    got = {r.k: r.v for r in snapshot_read(spark, t).collect()}
    assert got[3] == 999 and len(got) == 10


def test_merge_null_condition_is_false(spark, tmp_path):
    """A NULL-valued condition behaves as false (SQL WHEN semantics)."""
    t = tmp_path / "t"
    _seed(spark, t, n=10, n_files=1)
    src = spark.createDataFrame(
        [(3, None, "x")], "k long, v long, tag string"
    )
    snapshot_merge(
        spark, src, t, ["k"],
        matched_update={"v": "s.v"},
        matched_update_condition="s.v > t.v",  # NULL > 30 -> NULL -> false
        matched_delete=True,
        matched_delete_condition="s.v < 0",    # NULL -> false
        not_matched_insert=False,
    )
    got = {r.k: r.v for r in snapshot_read(spark, t).collect()}
    assert got[3] == 30 and len(got) == 10  # untouched


def test_merge_cow_carries_unpruned_files_byte_identical(spark, tmp_path):
    """Stats pruning: a merge whose keys land in one file's [min,max]
    rewrites only that file — every other data file byte-identical."""
    t = tmp_path / "t"
    _seed(spark, t, n=100, n_files=4)
    before = _file_hashes(t)
    src = spark.createDataFrame([(2, 999, "u")], "k long, v long, tag string")
    snapshot_merge(
        spark, src, t, ["k"],
        matched_update={"v": "s.v"}, not_matched_insert=False,
    )
    after = _file_hashes(t)
    carried = [f for f in before if f in after and before[f] == after[f]]
    assert len(carried) >= 3, "at least 3 of 4 files must carry untouched"
    got = {r.k: r.v for r in snapshot_read(spark, t).collect()}
    assert got[2] == 999 and len(got) == 100


def test_merge_mor_delete_insert_grows_dv_no_rewrite(spark, tmp_path):
    """With no UPDATE arm the merge is merge-on-read: matched deletes
    become deletion-vector entries (every pre-existing file carries
    byte-identical) and inserts append as new files."""
    t = tmp_path / "t"
    _seed(spark, t, n=100, n_files=4)
    before = _file_hashes(t)
    src = spark.createDataFrame(
        [(5, -1, "d"), (7, -1, "d"), (5000, 1, "new")],
        "k long, v long, tag string",
    )
    snapshot_merge(
        spark, src, t, ["k"],
        matched_delete=True,
        matched_delete_condition="s.v < 0",
        not_matched_insert=True,
    )
    after = _file_hashes(t)
    for f, h in before.items():
        assert after.get(f) == h, f"pre-existing file {f} rewritten by MOR merge"
    assert len(after) > len(before), "insert must append new file(s)"
    got = {r.k: r.v for r in snapshot_read(spark, t).collect()}
    assert 5 not in got and 7 not in got and got[5000] == 1
    assert len(got) == 99
    assert snapshot_history(t)[0]["op"] == "merge"  # newest first


def test_merge_mor_respects_existing_deletion_vectors(spark, tmp_path):
    """Rows already DV-deleted are invisible to the merge: they neither
    match (so a same-key source row INSERTS) nor resurrect."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_delete_range_mor,
    )

    t = tmp_path / "t"
    _seed(spark, t, n=100, n_files=4)
    snapshot_delete_range_mor(spark, t, "k", 10, 19)
    src = spark.createDataFrame([(15, 1, "re")], "k long, v long, tag string")
    snapshot_merge(spark, src, t, ["k"], matched_delete=True)
    got = {r.k: (r.v, r.tag) for r in snapshot_read(spark, t).collect()}
    assert got[15] == (1, "re"), "deleted key must re-insert, not resurrect"
    assert len(got) == 91  # 100 - 10 deleted + 1 re-insert


def test_merge_duplicate_source_keys_raise(spark, tmp_path):
    t = tmp_path / "t"
    _seed(spark, t, n=10, n_files=1)
    src = spark.createDataFrame(
        [(3, 1, "a"), (3, 2, "b")], "k long, v long, tag string"
    )
    with pytest.raises(ValueError, match="duplicate"):
        snapshot_merge(spark, src, t, ["k"], matched_update={"v": "s.v"})


def test_merge_into_empty_path_is_filtered_insert(spark, tmp_path):
    t = tmp_path / "t"
    src = spark.createDataFrame(
        [(1, 5, "a"), (2, -5, "b")], "k long, v long, tag string"
    )
    snapshot_merge(
        spark, src, t, ["k"],
        not_matched_insert=True, not_matched_condition="s.v > 0",
    )
    got = [r.k for r in snapshot_read(spark, t).collect()]
    assert got == [1]
    with pytest.raises(FileNotFoundError):
        snapshot_merge(
            spark, src, tmp_path / "t2", ["k"], not_matched_insert=False
        )


def test_merge_concurrent_writer_rebases(spark, tmp_path):
    """An interleaved append between manifest read and commit triggers the
    optimistic rebase — both writers' effects land."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "t"
    _seed(spark, t, n=20, n_files=2)
    src = spark.createDataFrame([(3, 999, "u")], "k long, v long, tag string")

    real_commit = S._commit
    fired = threading.Event()

    def racing_commit(p, files, parent, **kw):
        if not fired.is_set() and kw.get("op") == "merge":
            fired.set()
            S.snapshot_append(
                spark.createDataFrame(
                    [(9000, 1, "race")], "k long, v long, tag string"
                ),
                t,
            )
        return real_commit(p, files, parent, **kw)

    S._commit = racing_commit
    try:
        snapshot_merge(
            spark, src, t, ["k"], matched_update={"v": "s.v"},
        )
    finally:
        S._commit = real_commit
    assert fired.is_set()
    got = {r.k: r.v for r in snapshot_read(spark, t).collect()}
    assert got[3] == 999 and got[9000] == 1 and len(got) == 21


def test_catalog_conditional_merge_round_trip(spark, tmp_path):
    """The catalog parses the full WHEN-clause SQL form — conditions,
    explicit SET assignments, DELETE arm — and routes to snapshot_merge."""
    cat = SnapshotCatalog(spark)
    t = tmp_path / "fact"
    _seed(spark, t, n=50, n_files=2)
    cat.sql(f"CREATE TABLE fact USING snapshot LOCATION '{t}'")
    spark.createDataFrame(
        [(5, 555, "u"), (6, -1, "d"), (7, 1, "c"), (900, 9, "n")],
        "k long, v long, tag string",
    ).createOrReplaceTempView("src_cond")
    cat.sql(
        "MERGE INTO fact t USING src_cond s ON t.k = s.k "
        "WHEN MATCHED AND s.v > t.v THEN UPDATE SET v = s.v, tag = s.tag "
        "WHEN MATCHED AND s.v < 0 THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r.k: (r.v, r.tag) for r in cat.sql("SELECT * FROM fact").collect()}
    assert got[5] == (555, "u")
    assert 6 not in got
    assert got[7] == (70, "base")  # 1 > 70 false, 1 < 0 false -> carried
    assert got[900] == (9, "n")
    assert len(got) == 50  # 50 - 1 delete + 1 insert


def test_catalog_merge_update_set_star_and_key_list_on(spark, tmp_path):
    """`UPDATE SET *` with an AND-condition expands to all columns; the
    ON clause also accepts the bare key-list form."""
    cat = SnapshotCatalog(spark)
    t = tmp_path / "fact2"
    _seed(spark, t, n=20, n_files=1)
    cat.sql(f"CREATE TABLE fact2 USING snapshot LOCATION '{t}'")
    spark.createDataFrame(
        [(3, 999, "hi"), (4, 1, "lo")], "k long, v long, tag string"
    ).createOrReplaceTempView("src_star")
    cat.sql(
        "MERGE INTO fact2 USING src_star ON (k) "
        "WHEN MATCHED AND s.v > t.v THEN UPDATE SET *"
    )
    got = {r.k: (r.v, r.tag) for r in cat.sql("SELECT * FROM fact2").collect()}
    assert got[3] == (999, "hi")
    assert got[4] == (40, "base")  # condition false -> carried
    assert len(got) == 20


def test_catalog_merge_rejects_unparsed_clause_text(spark, tmp_path):
    cat = SnapshotCatalog(spark)
    t = tmp_path / "fact3"
    _seed(spark, t, n=5, n_files=1)
    cat.sql(f"CREATE TABLE fact3 USING snapshot LOCATION '{t}'")
    spark.range(1).selectExpr(
        "id AS k", "id AS v", "'x' AS tag"
    ).createOrReplaceTempView("src_bad")
    with pytest.raises(ValueError, match="MERGE"):
        cat.sql(
            "MERGE INTO fact3 USING src_bad ON (k) "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN UPDATE SET v = s.v"  # invalid arm
        )
    with pytest.raises(ValueError, match="BY SOURCE"):
        cat.sql(
            "MERGE INTO fact3 USING src_bad ON (k) "
            "WHEN NOT MATCHED BY SOURCE THEN INSERT *"  # delete-only arm
        )
    assert current_version(t) == 1, "failed parse must not commit"


def test_merge_on_column_mapped_widened_table(spark, tmp_path):
    """The merge composes with column mapping (physical-space writes) and
    type widening (int source into a long-widened column)."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_enable_column_mapping,
        snapshot_rename_column,
    )

    t = tmp_path / "t"
    _seed(spark, t, n=20, n_files=2)
    snapshot_enable_column_mapping(spark, t)
    snapshot_rename_column(t, "v", "value")
    src = spark.createDataFrame(
        [(3, 999, "u"), (900, 9, "n")], "k int, value int, tag string"
    )
    snapshot_merge(
        spark, src, t, ["k"],
        matched_update={"value": "s.value"},
        not_matched_insert=True,
    )
    got = {r.k: r.value for r in snapshot_read(spark, t).collect()}
    assert got[3] == 999 and got[900] == 9 and len(got) == 21


def test_merge_small_update_is_mor_with_paired_cdf(spark, tmp_path):
    """A small conditional merge with an UPDATE arm rewrites NO file:
    standing files carry byte-identical, affected positions grow the
    deletion vectors, updated images append with row provenance — and
    the change feed pairs them as update_preimage/update_postimage."""
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_change_feed,
    )

    t = tmp_path / "t"
    _seed(spark, t, n=100, n_files=4)
    v1 = current_version(t)
    before = _file_hashes(t)
    src = spark.createDataFrame(
        [(5, 555, "u"), (7, -1, "d"), (900, 9, "n")],
        "k long, v long, tag string",
    )
    snapshot_merge(
        spark, src, t, ["k"],
        matched_update={"v": "s.v", "tag": "s.tag"},
        matched_update_condition="s.v > 0",
        matched_delete=True,
        matched_delete_condition="s.v < 0",
    )
    after = _file_hashes(t)
    for f, h in before.items():
        assert after.get(f) == h, f"standing file {f} rewritten by MOR merge"
    m = _read_manifest(t, current_version(t))
    assert m.get("dv"), "affected positions must grow deletion vectors"
    got = {r.k: (r.v, r.tag) for r in snapshot_read(spark, t).collect()}
    assert got[5] == (555, "u") and 7 not in got and got[900] == (9, "n")
    assert len(got) == 100  # 100 - 1 delete + 1 insert
    cf = snapshot_change_feed(
        spark, t, v1, current_version(t), updates_as="updates"
    )
    by_type = {
        r["_change_type"]: r["n"]
        for r in cf.groupBy("_change_type").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert by_type.get("update_preimage") == 1
    assert by_type.get("update_postimage") == 1
    assert by_type.get("delete") == 1
    assert by_type.get("insert") == 1


def test_merge_wide_update_falls_back_to_cow(spark, tmp_path):
    """An update set wider than the cap copy-on-write rewrites the
    touched files instead of growing giant vectors."""
    from energy_datalake_solution_spark.sources import snapshots as S
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
    )

    t = tmp_path / "t"
    _seed(spark, t, n=100, n_files=4)
    src = spark.range(100).selectExpr(
        "id AS k", "id + 10000 AS v", "'w' AS tag"
    )
    real_cap = S.DV_MAX_DELETED_ROWS
    S.DV_MAX_DELETED_ROWS = 10
    try:
        snapshot_merge(spark, src, t, ["k"], matched_update={"v": "s.v"})
    finally:
        S.DV_MAX_DELETED_ROWS = real_cap
    m = _read_manifest(t, current_version(t))
    assert not (m.get("dv") or {}), "wide merge must rewrite, not grow DVs"
    got = {r.k: r.v for r in snapshot_read(spark, t).collect()}
    assert got[0] == 10000 and got[99] == 10099 and len(got) == 100


def test_merge_not_matched_by_source_delete_full_sync(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE THEN DELETE: a full-state source syncs
    the target — unmatched target rows delete (condition-scoped),
    matched rows update, new rows insert; small affected sets are MOR
    (standing files byte-identical, DVs grow)."""
    t = tmp_path / "t"
    _seed(spark, t, n=20, n_files=2)
    before = _file_hashes(t)
    # source carries keys 0..17 (drops 18, 19) + new key 100; key 3 bumps
    src = spark.range(18).selectExpr(
        "id AS k",
        "CASE WHEN id = 3 THEN 999 ELSE id * 10 END AS v",
        "'sync' AS tag",
    ).unionByName(
        spark.createDataFrame([(100, 1, "new")], "k long, v long, tag string")
    )
    snapshot_merge(
        spark, src, t, ["k"],
        matched_update={"v": "s.v"},
        matched_update_condition="s.v <> t.v",
        not_matched_insert=True,
        not_matched_by_source_delete=True,
    )
    after = _file_hashes(t)
    for f, h in before.items():
        assert after.get(f) == h, "small sync must be MOR (no rewrite)"
    got = {r.k: r.v for r in snapshot_read(spark, t).collect()}
    assert 18 not in got and 19 not in got
    assert got[3] == 999 and got[5] == 50 and got[100] == 1
    assert len(got) == 19


def test_merge_nmbs_condition_scopes_the_sync(spark, tmp_path):
    """The BY SOURCE condition sees only target columns: rows outside
    its scope survive even when unmatched."""
    t = tmp_path / "t"
    _seed(spark, t, n=10, n_files=1)
    src = spark.createDataFrame([(0, 0, "x")], "k long, v long, tag string")
    snapshot_merge(
        spark, src, t, ["k"],
        not_matched_insert=False,
        not_matched_by_source_delete=True,
        not_matched_by_source_condition="t.k >= 8",  # only 8, 9 in scope
    )
    got = {r.k for r in snapshot_read(spark, t).collect()}
    assert got == set(range(8))


def test_merge_nmbs_empty_source_truncates_within_scope(spark, tmp_path):
    """Sync-to-empty: an empty source with the BY SOURCE arm deletes
    every in-scope row (not the silent no-op the plain merge takes)."""
    t = tmp_path / "t"
    _seed(spark, t, n=10, n_files=1)
    empty = spark.createDataFrame([], "k long, v long, tag string")
    snapshot_merge(
        spark, empty, t, ["k"],
        not_matched_insert=False,
        not_matched_by_source_delete=True,
    )
    assert snapshot_read(spark, t).count() == 0


def test_merge_nmbs_wide_rewrites_table(spark, tmp_path):
    from energy_datalake_solution_spark.sources import snapshots as S
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
    )

    t = tmp_path / "t"
    _seed(spark, t, n=100, n_files=4)
    src = spark.range(50).selectExpr("id AS k", "id * 10 AS v", "'s' AS tag")
    real = S.DV_MAX_DELETED_ROWS
    S.DV_MAX_DELETED_ROWS = 5
    try:
        snapshot_merge(
            spark, src, t, ["k"],
            not_matched_insert=False,
            not_matched_by_source_delete=True,
        )
    finally:
        S.DV_MAX_DELETED_ROWS = real
    m = _read_manifest(t, current_version(t))
    assert not (m.get("dv") or {}), "wide sync must rewrite, not grow DVs"
    assert {r.k for r in snapshot_read(spark, t).collect()} == set(range(50))


def test_catalog_merge_by_source_grammar(spark, tmp_path):
    cat = SnapshotCatalog(spark)
    t = tmp_path / "fact"
    _seed(spark, t, n=10, n_files=1)
    cat.sql(f"CREATE TABLE fact USING snapshot LOCATION '{t}'")
    spark.createDataFrame(
        [(2, 222, "s"), (50, 5, "s")], "k long, v long, tag string"
    ).createOrReplaceTempView("sync_src")
    cat.sql(
        "MERGE INTO fact t USING sync_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE AND t.k >= 5 THEN DELETE"
    )
    got = {r.k: r.v for r in cat.sql("SELECT * FROM fact").collect()}
    assert got[2] == 222 and got[50] == 5
    assert set(got) == {0, 1, 2, 3, 4, 50}  # 5..9 deleted (unmatched, in scope)


def test_merge_wide_delete_fallback_preserves_txn_stamp(spark, tmp_path):
    """A MOR delete-arm merge whose hit set exceeds DV_MAX_DELETED_ROWS
    reruns on the CoW shape — and the fallback must carry the txn stamp,
    or a crash-replay of the micro-batch re-executes (rows inserted by
    the first run become matched and get deleted), breaking the
    exactly-once streaming contract."""
    from energy_datalake_solution_spark.sources import snapshots as S
    from energy_datalake_solution_spark.sources.snapshots import last_txn

    t = tmp_path / "t"
    _seed(spark, t, n=100, n_files=4)
    src = spark.range(200).selectExpr("id AS k", "id + 1 AS v", "'s' AS tag")

    def run():
        return snapshot_merge(
            spark, src, t, ["k"],
            matched_delete=True,          # no update arm -> MOR path
            not_matched_insert=True,      # 100..199 insert
            txn=7, txn_app="replay-app",
        )

    real = S.DV_MAX_DELETED_ROWS
    S.DV_MAX_DELETED_ROWS = 10  # 100 matched deletes >> cap -> CoW fallback
    try:
        v1 = run()
        assert last_txn(t, "replay-app") == 7, "fallback dropped the stamp"
        v2 = run()  # replay: must be a no-op BEFORE any work
    finally:
        S.DV_MAX_DELETED_ROWS = real
    assert v2 == v1 == current_version(t)
    got = {r.k for r in snapshot_read(spark, t).collect()}
    assert got == set(range(100, 200)), "replay deleted first-run inserts"


def test_catalog_merge_delete_before_update_honors_written_order(
    spark, tmp_path
):
    """Delta evaluates WHEN MATCHED clauses in WRITTEN order: a row
    satisfying both a leading DELETE's condition and the trailing
    UPDATE must be DELETED, not updated."""
    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    _seed(spark, t, n=10, n_files=1)
    cat.sql(f"CREATE TABLE t_ord USING snapshot LOCATION '{t}'")
    spark.createDataFrame(
        [(3, 333, "s"), (7, 777, "s")], "k long, v long, tag string"
    ).createOrReplaceTempView("ord_src")
    cat.sql(
        "MERGE INTO t_ord t USING ord_src s ON t.k = s.k "
        "WHEN MATCHED AND t.k < 5 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET v = s.v"
    )
    got = {r.k: r.v for r in cat.sql("SELECT * FROM t_ord").collect()}
    assert 3 not in got, "row matching the written-first DELETE must delete"
    assert got[7] == 777
    assert len(got) == 9


def test_catalog_merge_update_before_delete_still_update_precedence(
    spark, tmp_path
):
    """Written UPDATE-before-DELETE keeps the engine's native precedence:
    a row satisfying both conditions updates."""
    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    _seed(spark, t, n=10, n_files=1)
    cat.sql(f"CREATE TABLE t_ord2 USING snapshot LOCATION '{t}'")
    spark.createDataFrame(
        [(3, 333, "s")], "k long, v long, tag string"
    ).createOrReplaceTempView("ord2_src")
    cat.sql(
        "MERGE INTO t_ord2 t USING ord2_src s ON t.k = s.k "
        "WHEN MATCHED AND t.k < 5 THEN UPDATE SET v = s.v "
        "WHEN MATCHED THEN DELETE"
    )
    got = {r.k: r.v for r in cat.sql("SELECT * FROM t_ord2").collect()}
    assert got[3] == 333 and len(got) == 10


def test_catalog_merge_multiple_matched_clauses_require_condition(
    spark, tmp_path
):
    """Delta's rule: with multiple WHEN MATCHED clauses, every clause
    except the last must carry a condition — an unconditional first
    clause makes the second unreachable, so the parse fails loudly."""
    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    _seed(spark, t, n=5, n_files=1)
    cat.sql(f"CREATE TABLE t_nc USING snapshot LOCATION '{t}'")
    spark.createDataFrame(
        [(1, 11, "s")], "k long, v long, tag string"
    ).createOrReplaceTempView("nc_src")
    with pytest.raises(ValueError, match="except the last"):
        cat.sql(
            "MERGE INTO t_nc t USING nc_src s ON t.k = s.k "
            "WHEN MATCHED THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET v = s.v"
        )


def test_catalog_merge_update_set_with_function_commas(spark, tmp_path):
    """SET expressions containing top-level function commas
    (greatest(a, b)) parse correctly instead of mis-splitting."""
    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    _seed(spark, t, n=10, n_files=1)
    cat.sql(f"CREATE TABLE t_fc USING snapshot LOCATION '{t}'")
    spark.createDataFrame(
        [(2, 5, "s"), (9, 500, "s")], "k long, v long, tag string"
    ).createOrReplaceTempView("fc_src")
    cat.sql(
        "MERGE INTO t_fc t USING fc_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = greatest(t.v, s.v), "
        "tag = concat(t.tag, '-', s.tag)"
    )
    got = {r.k: (r.v, r.tag) for r in cat.sql("SELECT * FROM t_fc").collect()}
    assert got[2] == (20, "base-s")      # greatest(20, 5)
    assert got[9] == (500, "base-s")     # greatest(90, 500)


def test_merge_nmbs_update_soft_delete_flagging(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE THEN UPDATE SET (Delta's soft-delete
    arm): target rows whose key the source no longer carries get
    flagged, matched rows update from the source, nothing is deleted."""
    t = tmp_path / "t"
    _seed(spark, t, n=10, n_files=2)
    src = spark.createDataFrame(
        [(2, 222, "s"), (50, 5, "s")], "k long, v long, tag string"
    )
    snapshot_merge(
        spark, src, t, ["k"],
        matched_update={"v": "s.v"},
        not_matched_insert=True,
        not_matched_by_source_update={"tag": "'stale'"},
    )
    got = {r.k: (r.v, r.tag) for r in snapshot_read(spark, t).collect()}
    assert got[2] == (222, "base")          # matched: updated, not flagged
    assert got[50] == (5, "s")              # inserted
    assert got[7] == (70, "stale")          # unmatched: soft-deleted
    assert len(got) == 11                   # nothing hard-deleted


def test_merge_nmbs_update_condition_scopes_flagging(spark, tmp_path):
    """The BY SOURCE UPDATE condition sees only t: rows outside it
    carry untouched."""
    t = tmp_path / "t"
    _seed(spark, t, n=10, n_files=2)
    src = spark.createDataFrame([(0, 0, "s")], "k long, v long, tag string")
    snapshot_merge(
        spark, src, t, ["k"],
        not_matched_insert=False,
        not_matched_by_source_update={"tag": "'stale'"},
        not_matched_by_source_update_condition="t.k >= 8",
    )
    got = {r.k: r.tag for r in snapshot_read(spark, t).collect()}
    assert got[8] == "stale" and got[9] == "stale"
    assert all(got[k] == "base" for k in range(8))


def test_merge_nmbs_update_and_delete_update_precedence(spark, tmp_path):
    """Both BY SOURCE arms: the update arm evaluates first (engine
    precedence); rows hitting neither condition carry."""
    t = tmp_path / "t"
    _seed(spark, t, n=10, n_files=2)
    src = spark.createDataFrame([(0, 0, "s")], "k long, v long, tag string")
    snapshot_merge(
        spark, src, t, ["k"],
        not_matched_insert=False,
        not_matched_by_source_update={"tag": "'stale'"},
        not_matched_by_source_update_condition="t.k >= 8",
        not_matched_by_source_delete=True,
        not_matched_by_source_condition="t.k >= 5",
    )
    got = {r.k: r.tag for r in snapshot_read(spark, t).collect()}
    assert got[8] == "stale" and got[9] == "stale"   # update wins
    assert 5 not in got and 6 not in got and 7 not in got  # deleted
    assert all(got[k] == "base" for k in range(5))   # carried


def test_merge_nmbs_update_wide_rewrites_table(spark, tmp_path):
    """A BY SOURCE update set wider than the DV cap falls to the CoW
    rewrite with identical semantics."""
    from energy_datalake_solution_spark.sources import snapshots as S
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
    )

    t = tmp_path / "t"
    _seed(spark, t, n=100, n_files=4)
    src = spark.range(10).selectExpr("id AS k", "id AS v", "'s' AS tag")
    real = S.DV_MAX_DELETED_ROWS
    S.DV_MAX_DELETED_ROWS = 5
    try:
        snapshot_merge(
            spark, src, t, ["k"],
            not_matched_insert=False,
            not_matched_by_source_update={"tag": "'stale'"},
        )
    finally:
        S.DV_MAX_DELETED_ROWS = real
    m = _read_manifest(t, current_version(t))
    assert not (m.get("dv") or {}), "wide sync must rewrite, not grow DVs"
    got = {r.k: r.tag for r in snapshot_read(spark, t).collect()}
    assert sum(1 for v in got.values() if v == "stale") == 90
    assert all(got[k] == "base" for k in range(10)) and len(got) == 100


def test_catalog_merge_by_source_update_grammar(spark, tmp_path):
    """The SQL surface parses WHEN NOT MATCHED BY SOURCE THEN UPDATE SET
    (with and without a condition) and honors written order for the
    BY SOURCE pair."""
    cat = SnapshotCatalog(spark)
    t = tmp_path / "fact"
    _seed(spark, t, n=10, n_files=1)
    cat.sql(f"CREATE TABLE sd_fact USING snapshot LOCATION '{t}'")
    spark.createDataFrame(
        [(2, 222, "s")], "k long, v long, tag string"
    ).createOrReplaceTempView("sd_src")
    cat.sql(
        "MERGE INTO sd_fact t USING sd_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED BY SOURCE AND t.k < 5 THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET tag = 'stale'"
    )
    got = {r.k: (r.v, r.tag) for r in cat.sql("SELECT * FROM sd_fact").collect()}
    # written order: k<5 unmatched rows DELETE (0,1,3,4); k>=5 flag stale
    assert set(got) == {2, 5, 6, 7, 8, 9}
    assert got[2] == (222, "base")
    assert all(got[k][1] == "stale" for k in (5, 6, 7, 8, 9))
    # SET * in the BY SOURCE arm is undefined
    with pytest.raises(ValueError, match="no source row"):
        cat.sql(
            "MERGE INTO sd_fact t USING sd_src s ON t.k = s.k "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *"
        )


def test_merge_explicit_insert_values(spark, tmp_path):
    """WHEN NOT MATCHED THEN INSERT (cols) VALUES (exprs): listed target
    columns evaluate over the source alias, unlisted ones insert as
    typed NULLs; unknown columns fail loudly; the SQL surface parses
    the form (with function commas in the VALUES list)."""
    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    _seed(spark, t, n=10, n_files=1)
    src = spark.createDataFrame(
        [(2, 222, "s"), (50, 5, "s")], "k long, v long, tag string"
    )
    snapshot_merge(
        spark, src, t, ["k"],
        matched_update={"v": "s.v"},
        not_matched_insert=True,
        not_matched_insert_values={"k": "s.k", "v": "s.v + 1000"},
    )
    got = {r.k: (r.v, r.tag) for r in snapshot_read(spark, t).collect()}
    assert got[2] == (222, "base")
    assert got[50] == (1005, None)  # tag unlisted -> NULL
    with pytest.raises(ValueError, match="unknown target column"):
        snapshot_merge(
            spark, src, t, ["k"],
            not_matched_insert_values={"k": "s.k", "nope": "1"},
        )
    # SQL surface, incl. greatest()'s comma inside VALUES
    cat.sql(f"CREATE TABLE iv USING snapshot LOCATION '{t}'")
    spark.createDataFrame(
        [(60, 7, "x")], "k long, v long, tag string"
    ).createOrReplaceTempView("iv_src")
    cat.sql(
        "MERGE INTO iv t USING iv_src s ON t.k = s.k "
        "WHEN NOT MATCHED THEN INSERT (k, v, tag) "
        "VALUES (s.k, greatest(s.v, 100), concat(s.tag, '!'))"
    )
    got = {r.k: (r.v, r.tag) for r in cat.sql("SELECT * FROM iv").collect()}
    assert got[60] == (100, "x!")
    # mismatched column/value counts fail loudly
    with pytest.raises(ValueError, match="columns but"):
        cat.sql(
            "MERGE INTO iv t USING iv_src s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k)"
        )
