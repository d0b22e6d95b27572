"""Model-based torture test for the snapshot table format.

A seeded random sequence of writer operations — append, keyed upsert,
MOR range delete, MOR range update, CoW range delete, compaction,
Z-ORDER compaction, VACUUM, RESTORE — runs against BOTH the snapshot
table and an in-memory pandas
reference model; after every op the table read-back must equal the
model exactly, and at the end every pinned historical version must
time-travel to the state the model had when that version committed.

This is the cross-feature interaction net the per-feature tests can't
weave: a deletion vector surviving a later upsert's carry, an update's
appended file then compacted, a restore landing on a version whose
files a MOR delete had vectored, stats staying prune-correct through
all of it (every read goes through the stats-pruned paths). Any
divergence prints the seed and the op list.

No RNG leaks into the ENGINE — randomness only picks which operations
this TEST replays; each op's effect is deterministic.
"""

from __future__ import annotations

import random

import pandas as pd
import pytest

from pyspark.sql import functions as F

from energy_datalake_solution_spark.sources.snapshots import (
    current_version,
    snapshot_compact,
    snapshot_delete_range,
    snapshot_delete_range_mor,
    snapshot_read,
    snapshot_restore,
    snapshot_update_range_mor,
    snapshot_upsert,
    snapshot_vacuum,
    snapshot_write,
    snapshot_zorder_compact_n,
)

N_OPS = 18
KEYSPACE = 400


def _table_state(spark, t, version=None) -> pd.DataFrame:
    df = snapshot_read(spark, t, version=version).toPandas()
    return df.sort_values(["k"]).reset_index(drop=True)[["k", "v"]]


def _model_state(model: dict) -> pd.DataFrame:
    rows = sorted(model.items())
    return pd.DataFrame({"k": [k for k, _ in rows], "v": [v for _, v in rows]})


def _assert_equal(spark, t, model, ctx, version=None):
    got = _table_state(spark, t, version)
    want = _model_state(model)
    assert len(got) == len(want), f"{ctx}: rowcount {len(got)} != {len(want)}"
    if len(want):
        assert got["k"].tolist() == want["k"].tolist(), f"{ctx}: keys diverged"
        assert got["v"].tolist() == want["v"].tolist(), f"{ctx}: values diverged"


@pytest.mark.parametrize("seed", [7, 23, 101, 211, 499, 631, 877])
def test_random_op_sequences_match_reference_model(spark, tmp_path, seed):
    rng = random.Random(seed)
    t = tmp_path / f"t{seed}"

    # seed table: keys 0..199, v = k*10, stats-partitioned on k — typed
    # INT so the first LONG-typed batch below triggers TYPE WIDENING and
    # every later op (MOR deletes/updates, compaction, z-order, restore,
    # vacuum) runs against the widened table, including restores to
    # pre-widening versions (which must CLEAR the types map)
    model = {k: k * 10 for k in range(200)}
    df = spark.createDataFrame(sorted(model.items()), "k int, v int")
    snapshot_write(df, t, stats_cols=["k"], n_files=6)
    pinned = {current_version(t): dict(model)}
    ops_done = ["seed"]

    def batch_df(pairs):
        return spark.createDataFrame(pairs, "k long, v long")

    for i in range(N_OPS):
        op = rng.choice(
            ["append", "upsert", "del_mor", "upd_mor", "del_cow",
             "compact", "restore", "zorder", "vacuum", "widen_key"]
        )
        try:
            if op == "widen_key":
                # a key beyond int32 range: only readable if the widened
                # type survives whatever the sequence did before/after
                k = 2**40 + i
                snapshot_upsert(spark, batch_df([(k, i)]), t, ["k"])
                model[k] = i
            elif op == "append":
                # fresh keys only (append is not keyed)
                new = [
                    (k, k * 10 + i)
                    for k in rng.sample(range(KEYSPACE), 8)
                    if k not in model
                ]
                if not new:
                    continue
                # append path: plain upsert with all-new keys exercises the
                # pruned-merge carry too; alternate to cover both writers
                snapshot_upsert(spark, batch_df(new), t, ["k"])
                model.update(dict(new))
            elif op == "upsert":
                keys = rng.sample(range(KEYSPACE), 12)
                batch = [(k, k * 100 + i) for k in keys]
                snapshot_upsert(spark, batch_df(batch), t, ["k"])
                model.update(dict(batch))
            elif op == "del_mor":
                lo = rng.randrange(0, KEYSPACE - 20)
                hi = lo + rng.randrange(1, 20)
                snapshot_delete_range_mor(spark, t, "k", lo, hi)
                model = {k: v for k, v in model.items() if not lo <= k <= hi}
            elif op == "del_cow":
                lo = rng.randrange(0, KEYSPACE - 20)
                hi = lo + rng.randrange(1, 20)
                snapshot_delete_range(spark, t, "k", lo, hi)
                model = {k: v for k, v in model.items() if not lo <= k <= hi}
            elif op == "upd_mor":
                lo = rng.randrange(0, KEYSPACE - 30)
                hi = lo + rng.randrange(1, 30)
                snapshot_update_range_mor(
                    spark, t, "k", lo, hi, {"v": F.col("v") + 1}
                )
                model = {
                    k: (v + 1 if lo <= k <= hi else v)
                    for k, v in model.items()
                }
            elif op == "compact":
                snapshot_compact(spark, t, target_files=4, stats_cols=["k"])
            elif op == "zorder":
                snapshot_zorder_compact_n(spark, t, ["k", "v"], n_files=4)
            elif op == "vacuum":
                keep = rng.choice([2, 4])
                snapshot_vacuum(t, keep_versions=keep)
                tip = current_version(t)
                pinned = {
                    v: s for v, s in pinned.items() if v > tip - keep
                }
            elif op == "restore":
                if not pinned:
                    continue
                v_target = rng.choice(sorted(pinned))
                snapshot_restore(t, v_target)
                model = dict(pinned[v_target])
        except Exception as ex:  # pragma: no cover - diagnostic path
            raise AssertionError(
                f"seed={seed} op#{i}={op} raised {ex!r}; history={ops_done}"
            ) from ex
        ops_done.append(op)
        _assert_equal(spark, t, model, f"seed={seed} after op#{i}={op} "
                                       f"(history={ops_done})")
        pinned[current_version(t)] = dict(model)

    # every pinned version surviving vacuum retention must still
    # time-travel to its recorded state
    for v in sorted(pinned):
        _assert_equal(
            spark, t, pinned[v], f"seed={seed} time-travel v{v}", version=v
        )

    # the DataSource read path must agree with the library read at the
    # final state — same manifest, same DVs, same widened types
    from energy_datalake_solution_spark.sources.snapshot_datasource import (
        SnapshotDataSource,
    )

    spark.dataSource.register(SnapshotDataSource)
    ds = (
        spark.read.format("snapshot").option("path", str(t)).load()
        .toPandas().sort_values(["k"]).reset_index(drop=True)[["k", "v"]]
    )
    want = _model_state(model)
    assert ds["k"].tolist() == want["k"].tolist(), f"seed={seed}: DS keys"
    assert ds["v"].tolist() == want["v"].tolist(), f"seed={seed}: DS values"


@pytest.mark.parametrize("seed", [13, 47])
def test_partitioned_upsert_sequences_match_model(spark, tmp_path, seed):
    """Random partition-scoped upsert/MOR-delete/restore interleavings
    through snapshot_upsert_partitioned: read-back equals the model after
    every op, AND every partition absent from a batch keeps its files
    byte-identical in the new manifest (the untouched-partition contract
    checked continuously, not just once)."""
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        snapshot_upsert_partitioned,
    )

    rng = random.Random(seed)
    t = tmp_path / f"pt{seed}"

    def year_of(k):
        return 1995 + (k % 4)

    model = {k: k * 10 for k in range(160)}

    def to_df(d):
        rows = [(k, v, year_of(k)) for k, v in sorted(d.items())]
        return spark.createDataFrame(rows, "k long, v long, yr int")

    snapshot_upsert_partitioned(spark, to_df(model), t, ["k"], "yr")
    pinned = {current_version(t): dict(model)}

    def check(ctx):
        got = snapshot_read(spark, t).toPandas().sort_values("k")
        want = sorted(model.items())
        assert got["k"].tolist() == [k for k, _ in want], ctx
        assert got["v"].tolist() == [v for _, v in want], ctx
        assert got["yr"].tolist() == [year_of(k) for k, _ in want], ctx

    for i in range(10):
        op = rng.choice(["upsert", "del_mor", "restore"])
        m_before = _read_manifest(t, current_version(t))
        if op == "upsert":
            yr = rng.choice([1995, 1996, 1997, 1998])
            keys = [
                k for k in rng.sample(range(200), 14) if year_of(k) == yr
            ]
            if not keys:
                continue
            batch = {k: k * 100 + i for k in keys}
            snapshot_upsert_partitioned(
                spark,
                to_df(batch).where(F.col("yr") == yr),
                t, ["k"], "yr",
            )
            model.update(batch)
            # untouched partitions carried byte-identical
            m_after = _read_manifest(t, current_version(t))
            untouched = {
                f for f, s in (m_before.get("stats", {}) or {}).items()
                if s.get("yr") and s["yr"][1] != yr
            }
            assert untouched <= set(m_after["files"]), (
                f"seed={seed} op#{i}: untouched partition files rewritten"
            )
        elif op == "del_mor":
            lo = rng.randrange(0, 150)
            hi = lo + rng.randrange(1, 12)
            snapshot_delete_range_mor(spark, t, "k", lo, hi)
            model = {k: v for k, v in model.items() if not lo <= k <= hi}
        elif op == "restore":
            v_target = rng.choice(sorted(pinned))
            snapshot_restore(t, v_target)
            model = dict(pinned[v_target])
        check(f"seed={seed} op#{i}={op}")
        pinned[current_version(t)] = dict(model)

    for v in sorted(pinned):
        got = snapshot_read(spark, t, version=v).toPandas().sort_values("k")
        want = sorted(pinned[v].items())
        assert got["k"].tolist() == [k for k, _ in want], f"travel v{v}"
        assert got["v"].tolist() == [v_ for _, v_ in want], f"travel v{v}"
