"""Tests of the lake benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark through ``perfbench/run.py``, and the tracer
test starts it in this process; together they take about three minutes.
Pass ``--basetemp`` to keep pytest's scratch files inside the checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

from lakebench import inputs  # noqa: E402
from lakebench.procs import session_cpu_s  # noqa: E402
from lakebench.tracing import Tracer  # noqa: E402
from lakebench.workloads import (  # noqa: E402
    KEYS,
    EnergyModel,
    deleted_supplier,
    frames_match,
    percentile_with_tail,
)

SIZES = inputs.EnergySizes(suppliers=20, customers=40, transactions=500)


def _day_bytes(root: Path, seed: int, day: int) -> dict[str, bytes]:
    paths = inputs.write_energy_day(root, seed, day, SIZES)
    return {ft: p.read_bytes() for ft, p in paths.items()}


def test_same_seed_gives_identical_csvs(tmp_path):
    for day in range(3):
        a = _day_bytes(tmp_path / "a", 7, day)
        b = _day_bytes(tmp_path / "b", 7, day)
        assert a == b


def test_other_seed_gives_other_csvs(tmp_path):
    a = _day_bytes(tmp_path / "a", 7, 1)
    b = _day_bytes(tmp_path / "b", 8, 1)
    assert all(a[ft] != b[ft] for ft in inputs.FILE_TYPES)


def test_same_seed_gives_identical_lake(tmp_path):
    a = inputs.write_lake(tmp_path / "a", 3, 0.001)
    b = inputs.write_lake(tmp_path / "b", 3, 0.001)
    c = inputs.write_lake(tmp_path / "c", 4, 0.001)
    assert len(list(a.iterdir())) == 10
    for f in a.iterdir():
        assert f.read_bytes() == (b / f.name).read_bytes()
    assert (a / "lineitem.parquet").read_bytes() != (c / "lineitem.parquet").read_bytes()


def test_daily_files_rearrive_a_fifth_and_never_repeat_a_key():
    for day in (1, 4):
        frames = inputs.energy_day(11, day, SIZES)
        for ft, df in frames.items():
            keys = df[KEYS[ft]]
            assert keys.is_unique
            n_new = {"proveedores": SIZES.suppliers, "clientes": SIZES.customers,
                     "transacciones": SIZES.transactions}[ft]
            old = keys.map(lambda k: int(k[1:]) < day * n_new).sum()
            assert old / len(keys) == pytest.approx(inputs.REARRIVAL_SHARE, abs=0.02)


def test_model_keeps_latest_arrival_then_applies_delete():
    model = EnergyModel()
    frames = [inputs.energy_day(5, d, SIZES) for d in range(3)]
    for d, f in enumerate(frames):
        model.apply_day(f, d)
    fact = model.tables["transacciones"].set_index("ID_Transaccion")
    assert fact.index.is_unique
    # a delete applies to the rows present that day; later days may bring
    # new transactions of the same supplier
    assert not (fact["ID_Proveedor"] == deleted_supplier(2)).any()
    latest = frames[2]["transacciones"].set_index("ID_Transaccion")
    kept = latest[latest["ID_Proveedor"] != deleted_supplier(2)]
    pd.testing.assert_frame_equal(fact.loc[kept.index], kept, check_names=False)


def test_p90_needs_ten_samples_above_it():
    assert percentile_with_tail([1.0] * 99, 0.9) is None
    values = [float(v) for v in range(1, 101)]
    assert percentile_with_tail(values, 0.9) == 90.0
    assert sum(v > 90.0 for v in values) == 10


def test_frames_match_tolerates_summation_order_only():
    want = pd.DataFrame({"k": ["a", "b"], "total": [0.1 + 0.2, 1e6]})
    assert frames_match(want.assign(total=[0.3, 1e6]), want, "t") == []
    assert frames_match(want.assign(total=[0.31, 1e6]), want, "t") != []
    assert frames_match(want.iloc[::-1], want, "t") != []


def test_session_cpu_counts_a_child_that_has_ended():
    """A Python worker that exits during an operation still counts: its
    CPU time moves into its parent's reaped-children total."""
    sid = os.getsid(0)
    before = session_cpu_s(sid)
    subprocess.run([sys.executable, "-c", "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.5: pass"], check=True)
    assert session_cpu_s(sid) - before >= 0.45


def test_span_counters_match_the_executor_totals(tmp_path, monkeypatch):
    """An adaptive shuffle join runs as several jobs whose final one skips
    the map stages; the span must still count every task and shuffle byte,
    as the executor's own running totals do."""
    for name, value in {"SPARK_GRAFT_CPUS": "2", "SPARK_DRIVER_MEMORY": "1g",
                        "SPARK_LOCAL_DIRS": str(tmp_path),
                        "SPARK_GRAFT_WAREHOUSE": str(tmp_path / "warehouse")}.items():
        monkeypatch.setenv(name, value)
    from energy_datalake_solution_spark.plans.session import get_spark

    spark = get_spark("lakebench-tracer-test")
    try:
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()

        def executor_totals() -> dict[str, int]:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            e = store.executorSummary("driver")
            return {"tasks": e.completedTasks() + e.failedTasks(),
                    "shuffle_read_bytes": e.totalShuffleRead(),
                    "shuffle_write_bytes": e.totalShuffleWrite()}

        facts = spark.range(0, 200_000).selectExpr("id % 100 AS k", "id AS v")
        dims = spark.range(0, 100).selectExpr("id AS k", "id * 2 AS w")
        query = (facts.join(dims.hint("shuffle_hash"), "k")
                 .groupBy((facts.k % 7).alias("g")).agg({"w": "sum", "v": "max"}))
        tracer = Tracer(spark, "test", enabled=True)
        before = executor_totals()
        with tracer.span("q"):
            assert len(query.toPandas()) == 7
        after = executor_totals()
        counters = tracer.spans[-1].counters
        assert counters["jobs"] >= 2 and counters["shuffle_write_bytes"] > 0
        for name in before:
            assert counters[name] == after[name] - before[name], name
    finally:
        spark.stop()


def test_refuses_a_directory_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "medallion_loads",
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""


@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_reports_every_declared_metric(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "medallion_loads",
                           "--seed", "5", "--seconds", "1", "--trace", str(trace)],
                          cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, settings, last = proc.stdout.strip().splitlines()
    result = json.loads(last)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = spec["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    run = json.loads(settings)["run"]
    assert run["seed"] == 5 and run["cpus"] >= 1 and run["sf"] > 0
    assert not list((ROOT / ".perfbench").glob("work-*"))
