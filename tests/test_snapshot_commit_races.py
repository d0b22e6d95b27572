"""Every snapshot mutation rebases onto a racing writer, pinned.

Each case runs one table-mutating entry point with a second writer
injected between the op's read of the tip and its commit: the first call
of ``_commit`` appends keys 100 and 101 to the committing table, so the
op's own commit conflicts and must rebase. After the op the tip must sit
directly on the racer's version, carry the op's ``op`` tag and the op's
effect, and keep the racer's rows (ops that replace the table's content —
truncate, restore, full write — instead replace them, on top of the
racer's version).

``test_op_gives_up_after_commit_retries`` makes every commit conflict:
the op must re-raise after exactly ``COMMIT_RETRIES`` commit attempts.
Delete-where, update-where and merge race in both their merge-on-read
(``mor``) and copy-on-write (``cow``) forms. The last cases pin what a
rebase must re-derive from the new tip rather than from a tip read
before the first attempt: a racer's constraint, rows a new constraint
must check, columns a new column mapping must name, and a replay stamp
written before the tip carried a txns map.

Every case builds its own four-row table.
"""
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from energy_datalake_solution_spark.sources import snapshots as S
from energy_datalake_solution_spark.sources.snapshot_datasource import (
    _commit_datasource_write,
)

RACER_KEYS = [100, 101]


def _rows(spark, lo, hi, v):
    return spark.range(lo, hi).select(F.col("id").alias("k"), F.lit(v).alias("v"))


@pytest.fixture
def t(spark, tmp_path):
    """A four-row table, keys 0..3, with per-file stats on ``k``."""
    path = tmp_path / "t"
    S.snapshot_write(_rows(spark, 0, 4, "base"), path, stats_cols=["k"])
    return path


@pytest.fixture
def race(spark, monkeypatch):
    """Make the first ``_commit`` let a racing writer commit first. The
    racer runs ``race["act"](table)`` — by default an append of
    ``race["rows"]()``, keys 100 and 101 — and its committed version ends
    up in ``race["version"]``. Set-up commits run with ``race["armed"]``
    false."""
    real = S._commit
    state = {
        "rows": lambda: _rows(spark, 100, 102, "racer"),
        "act": lambda p_: S.snapshot_append(state["rows"](), p_),
        "version": None,
        "armed": True,
    }

    def racing_commit(p_, files_, parent_, **kw):
        if state["armed"] and state["version"] is None:
            state["version"] = -1  # the racer's own commit goes straight through
            state["version"] = state["act"](p_)
        return real(p_, files_, parent_, **kw)

    monkeypatch.setattr(S, "_commit", racing_commit)
    return state


def _tip(table) -> dict:
    """The tip's history entry plus its resolved manifest."""
    h = next(e for e in S.snapshot_history(table) if e["current"])
    return {**h, "m": S._read_manifest(Path(table), h["version"])}


def _keys(spark, table) -> list:
    return sorted(r["k"] for r in S.snapshot_read(spark, table).select("k").collect())


def _rebased(table, race, op) -> dict:
    tip = _tip(table)
    assert (race["version"] or 0) > 0, "the racer never committed"
    assert tip["op"] == op
    assert tip["parent"] == race["version"], "the op did not rebase onto the racer"
    return tip


def _values(spark, table) -> dict:
    return {r["k"]: r["v"] for r in S.snapshot_read(spark, table).collect()}


# -- writers ---------------------------------------------------------------


def test_append_rebases(spark, t, race):
    S.snapshot_append(_rows(spark, 10, 12, "new"), t, stats_cols=["k"])
    _rebased(t, race, "append")
    assert _keys(spark, t) == [0, 1, 2, 3, 10, 11, *RACER_KEYS]


def test_write_rebases(spark, t, race):
    S.snapshot_write(_rows(spark, 50, 52, "w"), t)
    _rebased(t, race, "write")
    assert _keys(spark, t) == [50, 51]


def test_datasource_write_rebases(spark, t, race):
    p = S._table(t)
    files = S._write_files(_rows(spark, 20, 22, "ds"), p)
    _commit_datasource_write(str(t), files, False, None, txn=0, txn_app="ds")
    _rebased(t, race, "append")
    assert _keys(spark, t) == [0, 1, 2, 3, 20, 21, *RACER_KEYS]
    assert S.last_txn(t, "ds") == 0


def test_upsert_rebases(spark, t, race):
    S.snapshot_upsert(spark, _rows(spark, 1, 3, "new"), t, ["k"])
    _rebased(t, race, "upsert")
    got = _values(spark, t)
    assert sorted(got) == [0, 1, 2, 3, *RACER_KEYS]
    assert [got[k] for k in (0, 1, 2, 3)] == ["base", "new", "new", "base"]


@pytest.mark.parametrize("form", ["mor", "cow"])
def test_merge_rebases(spark, t, race, monkeypatch, form):
    if form == "cow":
        monkeypatch.setattr(S, "DV_MAX_DELETED_ROWS", 0)
    S.snapshot_merge(
        spark, _rows(spark, 3, 5, "m"), t, ["k"], matched_update={"v": "s.v"},
        txn=4, txn_app="merger",
    )
    tip = _rebased(t, race, "merge")
    assert bool(tip["m"].get("dv")) == (form == "mor")
    got = _values(spark, t)
    assert sorted(got) == [0, 1, 2, 3, 4, *RACER_KEYS]
    assert (got[2], got[3], got[4]) == ("base", "m", "m")
    assert S.last_txn(t, "merger") == 4


def test_upsert_partitioned_rebases(spark, t, race):
    S.snapshot_upsert_partitioned(spark, _rows(spark, 2, 4, "base"), t, ["k"], "v")
    _rebased(t, race, "upsert-part")
    assert _keys(spark, t) == [0, 1, 2, 3, *RACER_KEYS]
    assert _tip(t)["m"]["partitioning"] == {"cols": ["v"]}


def test_replace_where_rebases(spark, t, race):
    S.snapshot_replace_where(spark, t, "k <= 1", _rows(spark, 0, 1, "rep"))
    _rebased(t, race, "replace-where")
    got = _values(spark, t)
    assert sorted(got) == [0, 2, 3, *RACER_KEYS]
    assert got[0] == "rep"


# -- deletes and updates ---------------------------------------------------


def test_truncate_rebases(spark, t, race):
    S.snapshot_truncate(t)
    assert _rebased(t, race, "truncate")["m"]["files"] == []


def test_delete_range_rebases(spark, t, race):
    S.snapshot_delete_range(spark, t, "k", 1, 2)
    _rebased(t, race, "delete")
    assert _keys(spark, t) == [0, 3, *RACER_KEYS]


@pytest.mark.parametrize("op, cap", [
    pytest.param("delete-mor", S.DV_MAX_DELETED_ROWS, id="mor"),
    pytest.param("delete", 0, id="cow"),
])
def test_delete_where_rebases(spark, t, race, op, cap, monkeypatch):
    monkeypatch.setattr(S, "DV_MAX_DELETED_ROWS", cap)
    S.snapshot_delete_where(spark, t, "k = 1")
    _rebased(t, race, op)
    assert _keys(spark, t) == [0, 2, 3, *RACER_KEYS]


@pytest.mark.parametrize("op, cap", [
    pytest.param("update-mor", S.DV_MAX_DELETED_ROWS, id="mor"),
    pytest.param("update", 0, id="cow"),
])
def test_update_where_rebases(spark, t, race, op, cap, monkeypatch):
    monkeypatch.setattr(S, "DV_MAX_DELETED_ROWS", cap)
    S.snapshot_update_where(spark, t, "k = 1", {"v": "'upd'"})
    _rebased(t, race, op)
    got = _values(spark, t)
    assert sorted(got) == [0, 1, 2, 3, *RACER_KEYS]
    assert got[1] == "upd"


# -- maintenance -----------------------------------------------------------


def test_compact_rebases(spark, t, race):
    S.snapshot_compact(spark, t)
    tip = _rebased(t, race, "compact")
    assert len(tip["m"]["files"]) == 1
    assert _keys(spark, t) == [0, 1, 2, 3, *RACER_KEYS]


def test_analyze_rebases(spark, t, race):
    S.snapshot_analyze(spark, t, ["k"])  # the racer's files have none yet
    tip = _rebased(t, race, "analyze")
    stats = tip["m"]["stats"]
    assert set(stats) == set(tip["m"]["files"])
    assert all("k" in s for s in stats.values() if s[S._ROWS_KEY])
    assert _keys(spark, t) == [0, 1, 2, 3, *RACER_KEYS]


def test_analyze_blooms_rebases(spark, t, race):
    S.snapshot_analyze_blooms(spark, t, ["v"])
    tip = _rebased(t, race, "analyze-blooms")
    assert all("v" in tip["m"]["blooms"][f] for f in tip["m"]["files"])
    assert _keys(spark, t) == [0, 1, 2, 3, *RACER_KEYS]


def test_restore_rebases(spark, t, race):
    race["armed"] = False
    S.snapshot_append(_rows(spark, 4, 5, "later"), t)  # v2; the racer is v3
    race["armed"] = True
    S.snapshot_restore(t, version=1)
    _rebased(t, race, "restore")
    assert _keys(spark, t) == [0, 1, 2, 3]


# -- metadata-only commits -------------------------------------------------


def test_widen_column_rebases(spark, tmp_path, race):
    t = tmp_path / "t"

    def narrow(lo, hi, v):
        return _rows(spark, lo, hi, v).withColumn("n", F.col("k").cast("int"))

    race["armed"] = False
    S.snapshot_write(narrow(0, 4, "base"), t)
    race["armed"] = True
    race["rows"] = lambda: narrow(100, 102, "racer")
    S.snapshot_widen_column(spark, t, "n", "bigint")
    tip = _rebased(t, race, "widen-column")
    assert tip["m"]["types"]["n"] == "bigint"
    assert _keys(spark, t) == [0, 1, 2, 3, *RACER_KEYS]


def test_set_and_unset_properties_rebase(spark, t, race):
    S.snapshot_set_properties(t, {"owner": "ops", "tier": "gold"})
    tip = _rebased(t, race, "set-tblproperties")
    assert tip["m"]["properties"] == {"owner": "ops", "tier": "gold"}
    race["version"] = None  # arm a second racer
    S.snapshot_unset_properties(t, ["tier"])
    tip = _rebased(t, race, "unset-tblproperties")
    assert tip["m"]["properties"] == {"owner": "ops"}
    assert _keys(spark, t) == [0, 1, 2, 3, *sorted(RACER_KEYS * 2)]


def test_set_and_drop_constraint_rebase(spark, t, race):
    S.snapshot_set_constraint(spark, t, "nonneg", "k >= 0")
    tip = _rebased(t, race, "set-constraint")
    assert tip["m"]["constraints"] == {"nonneg": "k >= 0"}
    race["version"] = None
    S.snapshot_drop_constraint(t, "nonneg")
    tip = _rebased(t, race, "drop-constraint")
    assert not tip["m"].get("constraints")
    assert _keys(spark, t) == [0, 1, 2, 3, *sorted(RACER_KEYS * 2)]


def test_set_partitioning_rebases(spark, t, race):
    S.snapshot_set_partitioning(t, "v")
    tip = _rebased(t, race, "set-partitioning")
    assert tip["m"]["partitioning"] == {"cols": ["v"]}
    assert _keys(spark, t) == [0, 1, 2, 3, *RACER_KEYS]


def test_enable_column_mapping_rebases(spark, t, race):
    S.snapshot_enable_column_mapping(spark, t)
    tip = _rebased(t, race, "set-mapping")
    assert [c["name"] for c in tip["m"]["schema"]["cols"]] == ["k", "v"]
    assert _keys(spark, t) == [0, 1, 2, 3, *RACER_KEYS]


def test_schema_change_rebases(spark, t, race):
    race["armed"] = False
    S.snapshot_enable_column_mapping(spark, t)
    race["armed"] = True
    S.snapshot_add_column(t, "extra", "int")
    tip = _rebased(t, race, "add-column")
    assert [c["name"] for c in tip["m"]["schema"]["cols"]] == ["k", "v", "extra"]
    assert _keys(spark, t) == [0, 1, 2, 3, *RACER_KEYS]


def test_tail_changes_progress_stamp_rebases(spark, t, race):
    progress = t.parent / "progress"
    seen = []
    n = S.snapshot_tail_changes(
        spark, t, progress, lambda df, v: seen.append(v), app_id="tail"
    )
    assert (n, seen) == (1, [1])
    # the racer landed on the progress table itself; the stamp rebased
    tip = _rebased(progress, race, "progress")
    assert S.last_txn(progress, "tail") == 1
    assert tip["m"]["txns"]["tail"] == 1
    assert _keys(spark, progress) == RACER_KEYS


# -- bounded retries -------------------------------------------------------


@pytest.mark.parametrize("op", [
    "append", "upsert", "set_properties", "datasource_write",
])
def test_op_gives_up_after_commit_retries(spark, t, monkeypatch, op):
    calls = []

    def always_conflicts(p_, files_, parent_, **kw):
        calls.append(parent_)
        raise S.SnapshotCommitConflict("injected")

    run = {
        "append": lambda: S.snapshot_append(_rows(spark, 10, 12, "x"), t),
        "upsert": lambda: S.snapshot_upsert(spark, _rows(spark, 1, 2, "x"), t, ["k"]),
        "set_properties": lambda: S.snapshot_set_properties(t, {"a": "b"}),
        "datasource_write": lambda: _commit_datasource_write(
            str(t), S._write_files(_rows(spark, 10, 12, "x"), S._table(t)),
            False, None,
        ),
    }[op]
    monkeypatch.setattr(S, "_commit", always_conflicts)
    with pytest.raises(S.SnapshotCommitConflict, match="injected"):
        run()
    assert calls == [1] * S.COMMIT_RETRIES
    assert S.current_version(t) == 1


def test_one_commit_loop_in_the_package():
    pkg = Path(S.__file__).resolve().parent.parent
    loops = {
        str(f.relative_to(pkg)): f.read_text().count("range(COMMIT_RETRIES)")
        for f in pkg.rglob("*.py")
    }
    assert {f: n for f, n in loops.items() if n} == {"sources/snapshots.py": 1}


# -- what a rebase must re-derive ------------------------------------------


def test_set_constraint_keeps_a_racers_constraint(spark, t, race):
    race["act"] = lambda p_: S.snapshot_set_constraint(spark, p_, "c2", "v IS NOT NULL")
    S.snapshot_set_constraint(spark, t, "c1", "k >= 0")
    tip = _rebased(t, race, "set-constraint")
    assert tip["m"]["constraints"] == {"c1": "k >= 0", "c2": "v IS NOT NULL"}


def test_set_constraint_checks_a_racers_rows(spark, t, race):
    race["rows"] = lambda: _rows(spark, -2, 0, "racer")
    with pytest.raises(S.SnapshotConstraintViolation, match="c1"):
        S.snapshot_set_constraint(spark, t, "c1", "k >= 0")
    tip = _tip(t)
    assert tip["version"] == race["version"]
    assert not tip["m"].get("constraints")


def test_enable_column_mapping_maps_a_racers_column(spark, t, race):
    race["rows"] = lambda: _rows(spark, 100, 102, "racer").withColumn(
        "extra", F.col("k") * 10
    )
    S.snapshot_enable_column_mapping(spark, t)
    tip = _rebased(t, race, "set-mapping")
    assert [c["name"] for c in tip["m"]["schema"]["cols"]] == ["k", "v", "extra"]
    got = {r["k"]: r["extra"] for r in S.snapshot_read(spark, t).collect()}
    assert (got[0], got[100], got[101]) == (None, 1000, 1010)


def test_datasource_replay_of_a_pre_map_stamp_is_a_no_op(spark, t):
    import json

    # v1 as a legacy manifest: a per-commit stamp, no txns map
    mp = S._manifest_path(t, 1)
    m = json.loads(mp.read_text())
    m["txn"], m["txn_app"] = 7, "A"
    m.pop("txns", None)
    mp.write_text(json.dumps(m))
    files = S._write_files(_rows(spark, 0, 4, "base"), S._table(t))
    _commit_datasource_write(str(t), files, False, None, txn=7, txn_app="A")
    assert S.current_version(t) == 1
    assert S.snapshot_read(spark, t).count() == 4
    assert not any((t / f).exists() for f in files)  # the replay's files go
