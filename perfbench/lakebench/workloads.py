"""The benchmark's workloads.

Each workload is a list of operations per pass. An operation calls one
public function of the program (``build``); when that returns a DataFrame
the benchmark collects it with ``toPandas`` (``exec``), which is what a
client of the lake does with a result, and what the output check needs.
Each operation's wall time and the CPU time the run's processes (Python
driver, JVM, Python workers) spent during it are recorded.
``count()`` is not used: it lets Catalyst prune every projected column
the count does not need, so part of an operator's work would never run.

* ``llm_operators`` - document and embedding headliners: Python workers,
  an MLlib fit and stored ANN/BM25 index probes. The indexes are snapshot
  tables written once, in the warm pass; timed passes only read them.
* ``medallion_loads`` - the paper's pipeline on generated energy CSVs:
  one daily load of three files per pass (landing -> raw -> processed ->
  curated upsert), a merge-on-read delete of one supplier and a
  compaction, the reference's three analytics over the curated tables,
  the change-feed snapshot headliner, and the three ``sql_queries/*.sql``
  files through ``plans.query_api``. No Python workers outside the
  snapshot data source. The warm pass loads day 0; every later pass loads
  day 1 onto a fresh copy of the zones as the warm pass left them, so all
  timed passes do the same work on the same state.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from pathlib import Path
from typing import Any, Callable

import duckdb
import pandas as pd

from . import inputs
from .procs import session_cpu_s

LLM_QUERIES = (
    "docs_bigram_lm_score",
    "docs_bm25_probe",
    "docs_ngram_jaccard_pairs",
    "embeddings_ivf_ann",
    "embeddings_ivf_probe",
)
# the oracle-less ANN probes answer top-5 for each of 10 query vectors
ANN_PROBE_ROWS = 50
SNAPSHOT_QUERIES = ("snapshot_table_changes_read",)


@dataclass
class Op:
    """One call into the program. ``name`` is the span stem: the trace
    holds ``<name>.build`` and, when ``collect``, ``<name>.exec``."""
    name: str
    build: Callable[[], Any]
    collect: bool = True


@dataclass
class Outcome:
    name: str
    seconds: float
    cpu_seconds: float
    result: Any = None
    error: str | None = None


class Collected:
    """A collected result in the shape ``oracle_harness.compare`` reads."""

    def __init__(self, frame: pd.DataFrame):
        self.frame = frame

    def toPandas(self) -> pd.DataFrame:  # noqa: N802 - DataFrame's name
        return self.frame


def run_ops(ops: list[Op], tracer) -> list[Outcome]:
    """Run the operations in order; a failing one is recorded, not raised."""
    sid = os.getsid(0)
    out = []
    for op in ops:
        c0, t0 = session_cpu_s(sid), time.perf_counter()
        try:
            with tracer.span(op.name + ".build"):
                result = op.build()
            if op.collect:
                with tracer.span(op.name + ".exec"):
                    result = result.toPandas()
            error = None
        except Exception as exc:  # noqa: BLE001 - counted as a failed op
            result, error = None, f"{type(exc).__name__}: {exc}"[:500]
        seconds = time.perf_counter() - t0
        out.append(Outcome(op.name, seconds, session_cpu_s(sid) - c0, result, error))
    return out


def _registry():
    from energy_datalake_solution_spark.plans.registry import get_headliners

    return get_headliners()


class Workload:
    name = ""
    sf = 0.0
    # wall time of one timed pass on the 4-core host the benchmark was tuned
    # on; a run makes as many timed passes as fill --seconds at this pace
    nominal_pass_s = 0.0

    def __init__(self, work: Path, seed: int):
        self.work = work
        self.seed = seed
        self.lake = work / "lake"
        self._expected: dict[str, pd.DataFrame] | None = None

    def prepare(self) -> None:
        """Write the inputs; runs before the session starts, untimed."""
        inputs.write_lake(self.lake, self.seed, self.sf)

    def lake_oracles(self) -> dict[str, str]:
        """Op name -> DuckDB SQL over the lake giving the op's result."""
        return {}

    def expected(self) -> dict[str, pd.DataFrame]:
        if self._expected is None:
            from tests.oracle_harness import duck_connection

            con = duck_connection(str(self.lake))
            self._expected = {n: con.execute(sql).fetchdf()
                              for n, sql in self.lake_oracles().items()}
            con.close()
        return self._expected

    def check_lake_results(self, outcomes: list[Outcome]) -> list[str]:
        """Failed operations, and every result that has an oracle compared
        with it by ``oracle_harness.compare``."""
        from tests.oracle_harness import compare

        problems = []
        for o in outcomes:
            if o.error:
                problems.append(f"{o.name}: {o.error}")
            elif o.name in self.expected():
                problems += compare(Collected(o.result), self.expected()[o.name], o.name)
        return problems

    def ops(self, spark, pass_no: int) -> list[Op]:
        raise NotImplementedError

    def check(self, spark, pass_no: int, outcomes: list[Outcome]) -> list[str]:
        raise NotImplementedError

    def report(self, spark, passes: list[list[Outcome]]) -> dict[str, float]:
        """Workload-specific figures, printed beside the contract metrics."""
        return {}


class LlmOperators(Workload):
    """The document and embedding headliners, each checked against its
    DuckDB oracle, or by row count where it has none."""
    name = "llm_operators"
    sf = 0.01
    nominal_pass_s = 8.5

    def lake_oracles(self) -> dict[str, str]:
        specs = _registry()
        return {f"q.{n}": specs[n].oracle for n in LLM_QUERIES if specs[n].oracle}

    def ops(self, spark, pass_no: int) -> list[Op]:
        specs = _registry()
        lake = str(self.lake)
        return [Op(f"q.{n}", lambda fn=specs[n].fn: fn(spark, lake))
                for n in LLM_QUERIES]

    def check(self, spark, pass_no: int, outcomes: list[Outcome]) -> list[str]:
        problems = self.check_lake_results(outcomes)
        for o in outcomes:
            if not o.error and o.name not in self.expected() and len(o.result) != ANN_PROBE_ROWS:
                problems.append(f"{o.name}: {len(o.result)} rows, want {ANN_PROBE_ROWS}")
        return problems


# --------------------------------------------------------------------------
# medallion_loads
# --------------------------------------------------------------------------

ENERGY_SIZES = inputs.EnergySizes(suppliers=50, customers=200, transactions=50_000)
FIRST_LOAD = datetime(2026, 1, 1, tzinfo=timezone.utc)
TIMED_DAY = 1  # the daily load every timed pass makes
FACT = "fact_transacciones_energia"
ANALYTICS = {
    # reference: athena_queries/count_clientes.sql
    "count_customers": "SELECT count(*) AS n_customers FROM dim_clientes",
    # reference: athena_queries/top_proveedores.sql
    "suppliers_per_country": """
        SELECT country_of_origin, count(*) AS n_suppliers
        FROM dim_proveedores
        GROUP BY country_of_origin
        ORDER BY n_suppliers DESC, country_of_origin""",
    # reference: athena_queries/total_cost_per_customer.sql
    "total_cost_per_customer_2025": f"""
        SELECT t.customer_id, c.customer_name, sum(t.total_cost) AS total_cost
        FROM {FACT} t JOIN dim_clientes c ON t.customer_id = c.customer_id
        WHERE year(t.transaction_date) = 2025
        GROUP BY t.customer_id, c.customer_name
        ORDER BY total_cost DESC, t.customer_id
        LIMIT 10""",
}
TABLES = {"proveedores": "dim_proveedores", "clientes": "dim_clientes",
          "transacciones": FACT}
KEYS = {"proveedores": "ID_Proveedor", "clientes": "ID_Cliente",
        "transacciones": "ID_Transaccion"}


def deleted_supplier(day: int) -> str:
    """The supplier whose transactions the day's maintenance deletes."""
    return f"P{(7 * day) % ((day + 1) * ENERGY_SIZES.suppliers):05d}"


class EnergyModel:
    """Reference state of the curated zone, replayed from the landed CSVs:
    a key's latest arrival wins, then the day's delete applies."""

    def __init__(self):
        self.tables = {ft: pd.DataFrame() for ft in inputs.FILE_TYPES}

    def apply_day(self, frames: dict[str, pd.DataFrame], day: int) -> None:
        for ft, new in frames.items():
            old, key = self.tables[ft], KEYS[ft]
            if len(old):
                old = old[~old[key].isin(new[key])]
            self.tables[ft] = pd.concat([old, new], ignore_index=True)
        fact = self.tables["transacciones"]
        self.tables["transacciones"] = fact[fact["ID_Proveedor"] != deleted_supplier(day)]

    def views(self) -> duckdb.DuckDBPyConnection:
        """The model as the curated tables' canonical columns, in DuckDB."""
        con = duckdb.connect()
        p, c, t = (self.tables[ft] for ft in inputs.FILE_TYPES)
        con.register("p", p)
        con.register("c", c)
        con.register("t", t)
        con.execute("""CREATE VIEW dim_proveedores AS SELECT
            ID_Proveedor AS supplier_id, PaisOrigen AS country_of_origin FROM p""")
        con.execute("""CREATE VIEW dim_clientes AS SELECT
            ID_Cliente AS customer_id, NombreCliente AS customer_name FROM c""")
        con.execute(f"""CREATE VIEW {FACT} AS SELECT
            ID_Transaccion AS transaction_id, ID_Cliente AS customer_id,
            CAST(CantidadEnergiaMWh AS DOUBLE) * CAST(PrecioPorMWh AS DOUBLE) AS total_cost,
            CAST(CAST(FechaTransaccion AS TIMESTAMP) AS DATE) AS transaction_date
            FROM t""")
        return con


def frames_match(got: pd.DataFrame, want: pd.DataFrame, name: str) -> list[str]:
    """Ordered comparison; float columns to 1e-9 relative, since the two
    engines sum in different orders."""
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return [f"{name}: got {got.shape} {list(got.columns)}, "
                f"want {want.shape} {list(want.columns)}"]
    problems = []
    for c in got.columns:
        a, b = got[c].reset_index(drop=True), want[c].reset_index(drop=True)
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            bad = ((a.astype(float) - b.astype(float)).abs()
                   > 1e-9 * b.astype(float).abs().clip(lower=1)).sum()
        else:
            bad = (a.astype(str) != b.astype(str)).sum()
        if bad:
            problems.append(f"{name}: column {c} differs in {bad} rows")
    return problems


class MedallionLoads(Workload):
    name = "medallion_loads"
    sf = 0.01  # the lake the snapshot headliner and the sql_queries read
    nominal_pass_s = 15.0

    def __init__(self, work: Path, seed: int):
        super().__init__(work, seed)
        self.csvs: dict[int, dict[str, Path]] = {}
        self.models: dict[int, EnergyModel] = {}
        self.root = self.zones(0)

    def zones(self, pass_no: int) -> Path:
        """The raw, processed and curated zones a pass works in."""
        return self.work / f"energy-{pass_no:03d}"

    @property
    def processed(self) -> Path:
        return self.root / "processed"

    @property
    def curated(self) -> Path:
        return self.root / "curated"

    def prepare(self) -> None:
        super().prepare()
        for day in (0, TIMED_DAY):
            self.csvs[day] = inputs.write_energy_day(self.work / "csv", self.seed, day, ENERGY_SIZES)
            model = EnergyModel()
            for d in range(day + 1):
                model.apply_day(inputs.energy_day(self.seed, d, ENERGY_SIZES), d)
            self.models[day] = model

    def lake_oracles(self) -> dict[str, str]:
        from energy_datalake_solution_spark.plans.query_api import list_queries, load_query_text

        specs = _registry()
        out = {f"q.{n}": specs[n].oracle for n in SNAPSHOT_QUERIES}
        out.update({f"plans.query_api.run_query.{n}": load_query_text(n)
                    for n in list_queries()})
        return out

    def ops(self, spark, pass_no: int) -> list[Op]:
        from energy_datalake_solution_spark.plans import query_api
        from energy_datalake_solution_spark.sources import ingest, merge, snapshots, transform
        from energy_datalake_solution_spark.sources.schemas import CONTRACTS

        # untimed: the pass's own copy of the zones and of the day's CSVs,
        # which ingest moves into the raw zone
        day = min(pass_no, TIMED_DAY)
        if pass_no > 1:
            shutil.rmtree(self.zones(pass_no - 1))
        self.root = self.zones(pass_no)
        if pass_no:
            shutil.copytree(self.zones(0), self.root)
        landing = self.work / f"landing-{pass_no:03d}"
        landing.mkdir()
        paths = {ft: Path(shutil.copy(src, landing)) for ft, src in self.csvs[day].items()}

        now = FIRST_LOAD + timedelta(days=day)
        root, processed, curated = self.root, self.processed, self.curated
        routed: dict[str, Any] = {}
        ops: list[Op] = []
        for ft in inputs.FILE_TYPES:
            ops += [
                Op(f"sources.ingest.ingest_file.{ft}",
                   lambda ft=ft: routed.setdefault(
                       ft, ingest.ingest_file(paths[ft], root, now=now)),
                   collect=False),
                Op(f"sources.transform.run_pipeline.{ft}",
                   lambda ft=ft: transform.run_pipeline(
                       spark, ft, routed[ft].raw_path, routed[ft].load_date, processed),
                   collect=False),
                Op(f"sources.merge.run_merge.{ft}",
                   lambda ft=ft: merge.run_merge(
                       spark, processed, curated, CONTRACTS[ft], routed[ft].load_date),
                   collect=False),
            ]
        fact = curated / FACT
        ops += [
            Op("sources.snapshots.snapshot_delete_where",
               lambda: snapshots.snapshot_delete_where(
                   spark, fact, f"supplier_id = '{deleted_supplier(day)}'"),
               collect=False),
            Op("sources.snapshots.snapshot_compact",
               lambda: snapshots.snapshot_compact(
                   spark, fact, target_files=4, stats_cols=["transaction_id"]),
               collect=False),
        ]
        ops += [Op(f"ref.{name}", lambda sql=sql: self._analytic(spark, curated, sql))
                for name, sql in ANALYTICS.items()]
        specs = _registry()
        lake = str(self.lake)
        ops += [Op(f"q.{n}", lambda fn=specs[n].fn: fn(spark, lake))
                for n in SNAPSHOT_QUERIES]
        ops += [Op(f"plans.query_api.run_query.{n}", lambda n=n: query_api.run_query(spark, n, lake))
                for n in query_api.list_queries()]
        return ops

    @staticmethod
    def _analytic(spark, curated: Path, sql: str):
        from energy_datalake_solution_spark.sources.merge import curated_read

        for table in TABLES.values():
            curated_read(spark, curated, table).createOrReplaceTempView(table)
        return spark.sql(sql)

    def check(self, spark, pass_no: int, outcomes: list[Outcome]) -> list[str]:
        from energy_datalake_solution_spark.sources.merge import curated_read

        problems = self.check_lake_results(outcomes)
        if problems:
            return problems
        model = self.models[min(pass_no, TIMED_DAY)]
        con = model.views()
        for ft, table in TABLES.items():
            got = curated_read(spark, self.curated, table).count()
            if got != len(model.tables[ft]):
                problems.append(f"{table}: {got} rows, model has {len(model.tables[ft])}")
        total = curated_read(spark, self.curated, FACT).agg({"total_cost": "sum"}).first()[0]
        want = con.execute(f"SELECT sum(total_cost) FROM {FACT}").fetchone()[0]
        if abs(total - want) > 1e-9 * abs(want):
            problems.append(f"{FACT}: total_cost {total!r}, model has {want!r}")
        results = {o.name: o.result for o in outcomes}
        for name, sql in ANALYTICS.items():
            problems += frames_match(results[f"ref.{name}"], con.execute(sql).fetchdf(), name)
        con.close()
        return problems

    def report(self, spark, passes):
        from energy_datalake_solution_spark.sources.snapshots import snapshot_history

        def median_of(prefixes):
            return statistics.median(
                sum(o.seconds for o in p if o.name.startswith(prefixes)) for p in passes)

        loads = [sum(o.seconds for o in p if o.name.startswith(LOAD_PREFIXES)) for p in passes]
        history = snapshot_history(self.curated / FACT)
        p90 = percentile_with_tail(loads, 0.9)
        return {
            "load_s": statistics.median(loads),
            **({"load_s.p90": p90} if p90 is not None else {}),
            "maintenance_s": median_of(("sources.snapshots.",)),
            "ref_sql_s": median_of(("ref.",)),
            "storage_amp": _tree_bytes(self.curated) / _tree_bytes(self.processed),
            "sources.snapshots.bytes_written": float(_tree_bytes(self.curated)),
            "sources.snapshots.data_files": float(history[0]["n_files"]),
            "sources.snapshots.versions": float(len(history)),
        }


LOAD_PREFIXES = ("sources.ingest.", "sources.transform.", "sources.merge.")


def percentile_with_tail(values: list[float], q: float, min_tail: int = 10) -> float | None:
    """The q-quantile (0 < q < 1), or None when fewer than ``min_tail``
    samples lie above it: a percentile means little with fewer beyond it."""
    rank = max(0, math.ceil(q * len(values)) - 1)  # nearest-rank method
    if len(values) - 1 - rank < min_tail:
        return None
    return sorted(values)[rank]


def _tree_bytes(root: Path) -> int:
    return sum(p.stat().st_size for p in root.rglob("*") if p.is_file())


WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in (LlmOperators, MedallionLoads)}
