"""Multi-table transactions: all-or-nothing pointer swaps.

``SnapshotTransaction`` stages every write performed inside the block
(manifests publish, pointers don't) and swaps all tables' pointers
together at exit — or none, when any tip moved (abort) or the block
raised. Crash-in-swap-window recovery rolls forward from the intent WAL.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from energy_datalake_solution_spark.sources import snapshots as S
from energy_datalake_solution_spark.sources.snapshots import (
    SnapshotCommitConflict,
    SnapshotTransaction,
    current_version,
    snapshot_append,
    snapshot_read,
    snapshot_txn_recover,
    snapshot_upsert,
    snapshot_write,
)


def _seed(spark, t, n=20):
    snapshot_write(
        spark.range(n).selectExpr("id AS k", "id * 10 AS v"), t,
        stats_cols=["k"], n_files=2,
    )


def test_two_table_transaction_commits_both(spark, tmp_path):
    ta, tb = tmp_path / "a", tmp_path / "b"
    _seed(spark, ta)
    _seed(spark, tb)
    with SnapshotTransaction():
        snapshot_upsert(
            spark,
            spark.createDataFrame([(5, 555), (100, 1)], "k long, v long"),
            ta, ["k"],
        )
        snapshot_append(
            spark.createDataFrame([(200, 2)], "k long, v long"), tb
        )
        # staged versions visible INSIDE the transaction (chaining)...
        assert current_version(ta) == 2 and current_version(tb) == 2
    got_a = {r.k: r.v for r in snapshot_read(spark, ta).collect()}
    got_b = {r.k: r.v for r in snapshot_read(spark, tb).collect()}
    assert got_a[5] == 555 and got_a[100] == 1 and len(got_a) == 21
    assert got_b[200] == 2 and len(got_b) == 21


def test_transaction_chains_operations_within_one_table(spark, tmp_path):
    ta = tmp_path / "a"
    _seed(spark, ta)
    outside_before = current_version(ta)
    with SnapshotTransaction():
        snapshot_append(spark.createDataFrame([(100, 1)], "k long, v long"), ta)
        snapshot_append(spark.createDataFrame([(101, 2)], "k long, v long"), ta)
    assert current_version(ta) == outside_before + 2
    got = {r.k for r in snapshot_read(spark, ta).collect()}
    assert {100, 101} <= got


def test_exception_inside_block_aborts_cleanly(spark, tmp_path):
    ta, tb = tmp_path / "a", tmp_path / "b"
    _seed(spark, ta)
    _seed(spark, tb)
    with pytest.raises(RuntimeError, match="boom"):
        with SnapshotTransaction():
            snapshot_append(
                spark.createDataFrame([(100, 1)], "k long, v long"), ta
            )
            raise RuntimeError("boom")
    assert current_version(ta) == 1 and current_version(tb) == 1
    assert snapshot_read(spark, ta).count() == 20  # nothing published


def test_injected_racer_aborts_whole_transaction(spark, tmp_path):
    """A racer advancing ONE member table between prepare and swap
    aborts the WHOLE transaction: neither table's pointer moves, the
    racer's commit survives, and a rerun lands both effects."""
    ta, tb = tmp_path / "a", tmp_path / "b"
    _seed(spark, ta)
    _seed(spark, tb)
    batch_a = spark.createDataFrame([(5, 555)], "k long, v long")
    batch_b = spark.createDataFrame([(200, 2)], "k long, v long")
    with pytest.raises(SnapshotCommitConflict, match="transaction aborted"):
        with SnapshotTransaction():
            snapshot_upsert(spark, batch_a, ta, ["k"])
            snapshot_append(batch_b, tb)
            # racer wins on tb while the transaction is still open — must
            # run OUTSIDE the transaction's staged view
            S._TXN_LOCAL.active, saved = None, S._TXN_LOCAL.active
            try:
                snapshot_append(
                    spark.createDataFrame([(999, 9)], "k long, v long"), tb
                )
            finally:
                S._TXN_LOCAL.active = saved
    # all-or-nothing: ta untouched, tb holds ONLY the racer's commit
    got_a = {r.k: r.v for r in snapshot_read(spark, ta).collect()}
    got_b = {r.k: r.v for r in snapshot_read(spark, tb).collect()}
    assert got_a.get(5) == 50 and len(got_a) == 20
    assert got_b.get(999) == 9 and 200 not in got_b
    # rerun against the new tips: both effects land
    with SnapshotTransaction():
        snapshot_upsert(spark, batch_a, ta, ["k"])
        snapshot_append(batch_b, tb)
    assert {r.k: r.v for r in snapshot_read(spark, ta).collect()}[5] == 555
    assert 200 in {r.k for r in snapshot_read(spark, tb).collect()}


def test_crash_in_swap_window_rolls_forward(spark, tmp_path):
    """Simulate a crash after the intent WAL and the FIRST pointer swap:
    recovery completes the remaining swaps from the intent record."""
    ta, tb = tmp_path / "a", tmp_path / "b"
    _seed(spark, ta)
    _seed(spark, tb)
    with SnapshotTransaction() as txn:
        snapshot_append(spark.createDataFrame([(100, 1)], "k long, v long"), ta)
        snapshot_append(spark.createDataFrame([(200, 2)], "k long, v long"), tb)
        staged = dict(txn.staged)
        # simulate the crash: swap only the FIRST table, leave the intent
        items = sorted(staged.items())
        intent = Path(items[0][0]) / "_txn_intent.crashtest.json"
        intent.write_text(json.dumps([
            {"path": k, "parent": e["parent"], "version": e["version"]}
            for k, e in items
        ]))
        first = Path(items[0][0])
        (first / "_latest").write_text(str(items[0][1]["version"]))
        txn.staged = {}  # suppress the real exit-time commit
    # torn state: one table advanced, the other not
    vs = sorted((current_version(ta), current_version(tb)))
    assert vs == [1, 2]
    advanced = snapshot_txn_recover(first)
    assert advanced == 1
    assert current_version(ta) == 2 and current_version(tb) == 2
    assert not list(first.glob("_txn_intent.*.json"))
    # recovery is idempotent
    assert snapshot_txn_recover(first) == 0


def test_nested_transactions_raise(spark, tmp_path):
    with SnapshotTransaction():
        with pytest.raises(RuntimeError, match="nested"):
            with SnapshotTransaction():
                pass


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_transaction_torture_model(spark, tmp_path, seed):
    """Randomized op sequences over two tables with racer injections: a
    Python dict model tracks what MUST be visible after each commit or
    abort; the tables must match the model exactly at every step."""
    import random

    rng = random.Random(seed)
    ta, tb = tmp_path / "a", tmp_path / "b"
    _seed(spark, ta, n=10)
    _seed(spark, tb, n=10)
    model = {
        str(ta): {k: k * 10 for k in range(10)},
        str(tb): {k: k * 10 for k in range(10)},
    }
    next_k = 1000
    for step in range(6):
        ops = []  # (table, rows) upserts planned for this transaction
        for t in (ta, tb):
            n_rows = rng.randint(1, 3)
            rows = [(next_k + i, rng.randint(0, 99)) for i in range(n_rows)]
            next_k += n_rows
            ops.append((t, rows))
        race = rng.random() < 0.5
        racer_row = (next_k, -1)
        next_k += 1
        racer_target = rng.choice((ta, tb))
        try:
            with SnapshotTransaction():
                for t, rows in ops:
                    snapshot_upsert(
                        spark,
                        spark.createDataFrame(rows, "k long, v long"),
                        t, ["k"],
                    )
                if race:
                    S._TXN_LOCAL.active, saved = None, S._TXN_LOCAL.active
                    try:
                        snapshot_append(
                            spark.createDataFrame(
                                [racer_row], "k long, v long"
                            ),
                            racer_target,
                        )
                    finally:
                        S._TXN_LOCAL.active = saved
                    model[str(racer_target)][racer_row[0]] = racer_row[1]
            committed = True
        except SnapshotCommitConflict:
            committed = False
        assert committed == (not race), "race must abort, quiet must commit"
        if committed:
            for t, rows in ops:
                model[str(t)].update(dict(rows))
        for t in (ta, tb):
            got = {r.k: r.v for r in snapshot_read(spark, t).collect()}
            assert got == model[str(t)], f"seed={seed} step={step} {t}"


def test_catalog_begin_commit_rollback(spark, tmp_path):
    """The SQL surface: BEGIN stages, SELECT reads the session's own
    staged writes, COMMIT swaps all pointers together, ROLLBACK abandons
    them — other readers never see uncommitted state."""
    from energy_datalake_solution_spark.sources.snapshot_catalog import (
        SnapshotCatalog,
    )

    cat = SnapshotCatalog(spark)
    ta, tb = tmp_path / "a", tmp_path / "b"
    _seed(spark, ta, n=10)
    _seed(spark, tb, n=10)
    cat.sql(f"CREATE TABLE ta USING snapshot LOCATION '{ta}'")
    cat.sql(f"CREATE TABLE tb USING snapshot LOCATION '{tb}'")

    def public_version(t):
        return int((Path(t) / "_latest").read_text().strip())

    cat.sql("BEGIN TRANSACTION")
    cat.sql("INSERT INTO ta VALUES (100, 1)")
    cat.sql("INSERT INTO tb VALUES (200, 2)")
    # read-your-own-writes inside the transaction (current_version on
    # this thread reports the STAGED versions, by design)...
    assert cat.sql("SELECT count(*) AS n FROM ta").first().n == 11
    assert current_version(ta) == 2
    # ...while the PUBLIC pointers are untouched
    assert public_version(ta) == 1 and public_version(tb) == 1
    cat.sql("COMMIT")
    assert current_version(ta) == 2 and current_version(tb) == 2
    assert cat.sql("SELECT count(*) AS n FROM tb").first().n == 11

    cat.sql("BEGIN")
    cat.sql("INSERT INTO ta VALUES (101, 1)")
    cat.sql("ROLLBACK")
    assert cat.sql("SELECT count(*) AS n FROM ta").first().n == 11
    assert current_version(ta) == 2

    with pytest.raises(RuntimeError, match="COMMIT without"):
        cat.sql("COMMIT")


def test_catalog_alter_partitioning(spark, tmp_path):
    from energy_datalake_solution_spark.sources.snapshot_catalog import (
        SnapshotCatalog,
    )
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_partitioning,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    snapshot_write(
        spark.range(10).selectExpr(
            "id AS k", "id AS v", "CAST(id % 2 AS string) AS cat"
        ),
        t, stats_cols=["k"], n_files=1,
    )
    cat.sql(f"CREATE TABLE t1 USING snapshot LOCATION '{t}'")
    cat.sql("ALTER TABLE t1 SET PARTITIONED BY (cat)")
    assert snapshot_partitioning(t) == ["cat"]
    cat.sql("ALTER TABLE t1 CLEAR PARTITIONING")
    assert snapshot_partitioning(t) is None


def test_catalog_merge_and_predicate_dml_stage_inside_transaction(spark, tmp_path):
    """The full DML surface composes with BEGIN/COMMIT: a conditional
    MERGE and a predicate DELETE staged in one transaction land together
    (and read-your-own-writes sees both mid-flight)."""
    from energy_datalake_solution_spark.sources.snapshot_catalog import (
        SnapshotCatalog,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "fact"
    _seed(spark, t, n=20)
    cat.sql(f"CREATE TABLE fact USING snapshot LOCATION '{t}'")
    spark.createDataFrame(
        [(3, 999), (100, 1)], "k long, v long"
    ).createOrReplaceTempView("txn_src")
    cat.sql("BEGIN")
    cat.sql(
        "MERGE INTO fact t USING txn_src s ON t.k = s.k "
        "WHEN MATCHED AND s.v > t.v THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    cat.sql("DELETE FROM fact WHERE k = 7")
    got = {r.k: r.v for r in cat.sql("SELECT * FROM fact").collect()}
    assert got[3] == 999 and got[100] == 1 and 7 not in got  # staged view
    assert int((Path(t) / "_latest").read_text()) == 1       # public tip
    cat.sql("COMMIT")
    got = {r.k: r.v for r in cat.sql("SELECT * FROM fact").collect()}
    assert got[3] == 999 and got[100] == 1 and 7 not in got
    assert len(got) == 20  # 20 - 1 delete + 1 insert


def test_vacuum_inside_open_transaction_raises(spark, tmp_path):
    """VACUUM between BEGIN and COMMIT would anchor its keep-set on the
    STAGED version and delete the published tip's manifest/files — a
    subsequent ROLLBACK would leave the public pointer referencing a
    deleted manifest. The library refuses; the catalog routes refuse;
    the table stays intact and a post-COMMIT vacuum works."""
    from energy_datalake_solution_spark.sources.snapshot_catalog import (
        SnapshotCatalog,
    )
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_vacuum,
    )

    t = tmp_path / "t"
    _seed(spark, t, n=20)
    # library level
    with SnapshotTransaction():
        snapshot_append(
            spark.range(100, 105).selectExpr("id AS k", "id AS v"), t
        )
        with pytest.raises(RuntimeError, match="VACUUM after COMMIT"):
            snapshot_vacuum(t, keep_versions=1)
        # the guard must fire BEFORE any deletion: published v1 intact
        assert (Path(t) / "_manifests" / "v1.json").exists()
    # catalog level: VACUUM and OPTIMIZE both refuse inside BEGIN..COMMIT
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE vt USING snapshot LOCATION '{t}'")
    cat.sql("BEGIN")
    cat.sql("INSERT INTO vt VALUES (200, 0)")
    with pytest.raises(RuntimeError, match="VACUUM"):
        cat.sql("VACUUM vt")
    with pytest.raises(RuntimeError, match="OPTIMIZE"):
        cat.sql("OPTIMIZE vt")
    cat.sql("ROLLBACK")
    # rollback is clean (the guard never deleted anything) and a
    # post-transaction vacuum runs fine
    assert {r.k for r in snapshot_read(spark, t).collect()} == (
        set(range(20)) | {100, 101, 102, 103, 104}
    )
    snapshot_vacuum(t, keep_versions=1)
    assert {r.k for r in snapshot_read(spark, t).collect()} == (
        set(range(20)) | {100, 101, 102, 103, 104}
    )


def test_transactional_ddl_stages_and_rolls_back(spark, tmp_path):
    """DDL inside BEGIN/COMMIT rides the same staged-commit machinery
    as DML: an ADD COLUMN inside a transaction is invisible after
    ROLLBACK and fully applied (with its default resolving both
    generations) after COMMIT."""
    from energy_datalake_solution_spark.sources.snapshot_catalog import (
        SnapshotCatalog,
    )

    t = tmp_path / "txddl"
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE txd (k bigint) USING snapshot LOCATION '{t}'")
    cat.sql("INSERT INTO txd VALUES (1)")
    cat.sql("BEGIN TRANSACTION")
    cat.sql("ALTER TABLE txd ADD COLUMN extra bigint DEFAULT 9")
    cat.sql("ROLLBACK")
    assert [r.col_name for r in cat.sql("DESCRIBE txd").collect()] == ["k"]
    cat.sql("BEGIN TRANSACTION")
    cat.sql("ALTER TABLE txd ADD COLUMN extra bigint DEFAULT 9")
    cat.sql("INSERT INTO txd (k) VALUES (2)")
    cat.sql("COMMIT")
    rows = sorted((r.k, r.extra) for r in cat.sql("SELECT * FROM txd").collect())
    assert rows == [(1, 9), (2, 9)]
