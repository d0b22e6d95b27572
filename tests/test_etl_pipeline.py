"""End-to-end ETL tests: landing CSV -> raw zone -> processed parquet ->
curated merge, with golden expectations (mirrors the reference pipeline
EP1/EP2; fixture schemas from FIXTURES.md Family B)."""

from __future__ import annotations

import datetime as dt
import textwrap
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from energy_datalake_solution_spark.sources.ingest import ingest_file
from energy_datalake_solution_spark.sources.merge import curated_read, run_merge
from energy_datalake_solution_spark.sources.schemas import (
    CLIENTES,
    CONTRACTS,
    PROVEEDORES,
    TRANSACCIONES,
)
from energy_datalake_solution_spark.sources.transform import run_pipeline, transform

PROVEEDORES_CSV = textwrap.dedent(
    """\
    ID_Proveedor,NombreProveedor,TipoEnergia,PaisOrigen,FechaInicioContrato
    P001,Energia Solar SA,Solar,Espana,2020-01-15
    P002,Viento Norte,Eolica,Chile,2021-06-01
    ,Proveedor Sin ID,Gas,Mexico,2019-03-10
    P003,Hidro Sur,Hidro,Argentina,2022-11-20
    """
)

CLIENTES_CSV = textwrap.dedent(
    """\
    ID_Cliente,NombreCliente,TipoCliente,Direccion,Ciudad,Pais
    C001,Juan Perez,Residencial,Calle 1,Bogota,Colombia
    C002,Acme Corp,Comercial - PYME,Av 2,Lima,Peru
    C003,Fabrica XYZ,Industrial,Zona 3,Quito,Ecuador
    C004,Desconocido,Gobierno,Calle 4,Caracas,Venezuela
    """
)

TRANSACCIONES_CSV = textwrap.dedent(
    """\
    ID_Transaccion,ID_Cliente,ID_Proveedor,FechaTransaccion,CantidadEnergiaMWh,PrecioPorMWh
    T001,C001,P001,2025-03-01 10:00:00,10.5,50.0
    T002,C002,P002,2025-03-02 11:30:00,20.0,45.5
    T003,C003,P001,2024-12-31 23:59:59,5.25,60.0
    """
)

TRANSACCIONES_V2_CSV = textwrap.dedent(
    """\
    ID_Transaccion,ID_Cliente,ID_Proveedor,FechaTransaccion,CantidadEnergiaMWh,PrecioPorMWh
    T002,C002,P002,2025-03-02 11:30:00,99.0,45.5
    T004,C001,P003,2025-03-03 08:15:00,7.0,55.0
    """
)


@pytest.fixture()
def lake(tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    return tmp_path, landing


def _land(landing: Path, name: str, content: str) -> Path:
    p = landing / name
    p.write_text(content)
    return p


def test_ingest_routing(lake):
    root, landing = lake
    f = _land(landing, "proveedores_batch1.csv", PROVEEDORES_CSV)
    now = dt.datetime(2025, 3, 5, 12, 0, 0, tzinfo=dt.timezone.utc)
    res = ingest_file(f, root, now=now)
    assert not res.skipped
    assert res.file_type == "proveedores"
    assert res.load_date == "2025-03-05"
    assert "raw/proveedores/fecha_carga=2025-03-05" in res.raw_path
    assert Path(res.raw_path).exists() and not f.exists()
    # non-csv rejected (reference: ingestion_to_raw.py:21-23)
    g = _land(landing, "notes.txt", "hello")
    assert ingest_file(g, root).skipped


def test_transform_proveedores_contract(spark, lake):
    root, landing = lake
    f = _land(landing, "proveedores_batch1.csv", PROVEEDORES_CSV)
    res = ingest_file(f, root, now=dt.datetime(2025, 3, 5, tzinfo=dt.timezone.utc))
    table, df = transform(spark, res.file_type, res.raw_path, res.load_date)
    assert table == "dim_proveedores"
    rows = {r["supplier_id"]: r for r in df.collect()}
    # null supplier_id filtered out (reference :64-65)
    assert set(rows) == {"P001", "P002", "P003"}
    r = rows["P001"]
    assert r["supplier_name"] == "Energia Solar SA"
    assert r["contract_start_date"] == dt.date(2020, 1, 15)
    assert r["source_file"].startswith("proveedores_batch1")
    assert r["load_date_partition"] == dt.date(2025, 3, 5)
    assert r["load_timestamp_utc"] is not None


def test_transform_clientes_derivations(spark, lake):
    root, landing = lake
    f = _land(landing, "clientes_a.csv", CLIENTES_CSV)
    res = ingest_file(f, root, now=dt.datetime(2025, 3, 5, tzinfo=dt.timezone.utc))
    table, df = transform(spark, res.file_type, res.raw_path, res.load_date)
    assert table == "dim_clientes"
    rows = {r["customer_id"]: r for r in df.collect()}
    # CASE/LIKE category mapping (reference :88-92)
    assert rows["C001"]["customer_category"] == "Residential"
    assert rows["C002"]["customer_category"] == "Commercial"  # contains-match
    assert rows["C003"]["customer_category"] == "Industrial"
    assert rows["C004"]["customer_category"] == "Other"
    # sha2-256 pseudonymization (reference :94)
    import hashlib

    assert rows["C001"]["hashed_customer_id"] == hashlib.sha256(b"C001").hexdigest()


def test_transform_transacciones_derived_and_unknown_passthrough(spark, lake):
    root, landing = lake
    f = _land(landing, "transacciones_t1.csv", TRANSACCIONES_CSV)
    res = ingest_file(f, root, now=dt.datetime(2025, 3, 5, tzinfo=dt.timezone.utc))
    table, df = transform(spark, res.file_type, res.raw_path, res.load_date)
    assert table == "fact_transacciones_energia"
    rows = {r["transaction_id"]: r for r in df.collect()}
    assert rows["T001"]["total_cost"] == pytest.approx(10.5 * 50.0)
    assert rows["T003"]["transaction_date"] == dt.date(2024, 12, 31)
    assert rows["T001"]["transaction_timestamp"] == dt.datetime(2025, 3, 1, 10, 0, 0)

    # unknown file type -> passthrough table (reference :130-139)
    g = _land(landing, "sensores_x.csv", "a,b\n1,2\n")
    res2 = ingest_file(g, root, now=dt.datetime(2025, 3, 5, tzinfo=dt.timezone.utc))
    table2, df2 = transform(spark, res2.file_type, res2.raw_path, res2.load_date)
    assert table2 == "unrecognized_data_sensores"
    out = df2.collect()[0]
    assert out["a"] == 1 and out["b"] == 2
    assert out["load_date_partition"] == dt.date(2025, 3, 5)


def test_transform_keeps_all_digit_keys_verbatim(spark, lake):
    """A contracted file is read as strings and typed only by its
    contract: schema inference would read the all-digit keys "007" and
    "7" as the integers 7 and 7, land both as "7" and merge them into
    one supplier, and hash customer "0001" as "1"."""
    import hashlib

    root, landing = lake
    processed, curated = root / "processed", root / "curated"
    now = dt.datetime(2025, 3, 5, tzinfo=dt.timezone.utc)
    files = {
        "proveedores_digits.csv": (
            "ID_Proveedor,NombreProveedor,TipoEnergia,PaisOrigen,FechaInicioContrato\n"
            "007,Bond Energia,Solar,Espana,2020-01-15\n"
            "7,Siete SA,Eolica,Chile,2021-06-01\n"
        ),
        "clientes_digits.csv": (
            "ID_Cliente,NombreCliente,TipoCliente,Direccion,Ciudad,Pais\n"
            "0001,Ana Ruiz,Residencial,Calle 1,Bogota,Colombia\n"
        ),
    }
    for name, content in files.items():
        res = ingest_file(_land(landing, name, content), root, now=now)
        run_pipeline(spark, res.file_type, res.raw_path, res.load_date, processed)
    for contract in (PROVEEDORES, CLIENTES):
        assert run_merge(spark, processed, curated, contract, "2025-03-05")

    suppliers = {
        r["supplier_id"]: r["supplier_name"]
        for r in curated_read(spark, curated, "dim_proveedores").collect()
    }
    assert suppliers == {"007": "Bond Energia", "7": "Siete SA"}
    (customer,) = curated_read(spark, curated, "dim_clientes").collect()
    assert customer["customer_id"] == "0001"
    assert customer["hashed_customer_id"] == hashlib.sha256(b"0001").hexdigest()


def _group_input_bytes(spark, group: str) -> int:
    """Input bytes of every stage the job group ran, from the status
    store once the listener bus has delivered the group's events."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    total = 0
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            try:
                total += store.lastStageAttempt(stage_id).inputBytes()
            except Py4JJavaError:  # a skipped stage never ran
                continue
    return total


def test_contracted_csv_is_scanned_once(spark, lake):
    """The processed write is the only scan of a contracted CSV: no
    inference pass reads the whole file first. Only the header probe
    (one read buffer) comes on top, so the input bytes of the whole
    pipeline stay well under two scans of a file larger than that
    buffer."""
    root, landing = lake
    rows = [TRANSACCIONES_CSV.splitlines()[0]] + [
        f"T{i:06d},C{i % 97:03d},P{i % 13:03d},2025-03-01 10:{i % 60:02d}:00,"
        f"{i % 100}.25,{50 + i % 7}.5"
        for i in range(8000)
    ]
    f = _land(landing, "transacciones_big.csv", "\n".join(rows) + "\n")
    size = f.stat().st_size
    assert size > 4 * 65536
    res = ingest_file(f, root, now=dt.datetime(2025, 3, 5, tzinfo=dt.timezone.utc))

    sc = spark.sparkContext
    group = "contracted-csv-single-scan"
    sc.setJobGroup(group, "contracted csv pipeline")
    try:
        run_pipeline(spark, res.file_type, res.raw_path, res.load_date, root / "processed")
    finally:
        sc._jsc.clearJobGroup()
    assert _group_input_bytes(spark, group) < 1.5 * size


def test_processed_write_partitioned_and_merge_upsert(spark, lake):
    root, landing = lake
    processed = root / "processed"
    curated = root / "curated"
    now = dt.datetime(2025, 3, 5, tzinfo=dt.timezone.utc)

    # day 1: T001-T003
    f1 = _land(landing, "transacciones_t1.csv", TRANSACCIONES_CSV)
    r1 = ingest_file(f1, root, now=now)
    run_pipeline(spark, r1.file_type, r1.raw_path, r1.load_date, processed)
    # Hive partition layout (reference :153-155)
    assert (processed / "fact_transacciones_energia" / "load_date_partition=2025-03-05").exists()

    assert run_merge(spark, processed, curated, TRANSACCIONES, "2025-03-05")
    t1 = curated_read(spark, curated, "fact_transacciones_energia")
    assert t1.count() == 3

    # day 2: update T002 (qty 20 -> 99) + insert T004
    now2 = dt.datetime(2025, 3, 6, tzinfo=dt.timezone.utc)
    f2 = _land(landing, "transacciones_t2.csv", TRANSACCIONES_V2_CSV)
    r2 = ingest_file(f2, root, now=now2)
    run_pipeline(spark, r2.file_type, r2.raw_path, r2.load_date, processed)
    assert run_merge(spark, processed, curated, TRANSACCIONES, "2025-03-06")

    t2 = curated_read(spark, curated, "fact_transacciones_energia")
    rows = {r["transaction_id"]: r for r in t2.collect()}
    assert set(rows) == {"T001", "T002", "T003", "T004"}  # upsert, not append
    assert rows["T002"]["energy_quantity_mwh"] == 99.0  # updated wins
    assert rows["T004"]["total_cost"] == pytest.approx(7.0 * 55.0)

    # emptiness guard (reference :116): merging a date with no data is a no-op
    assert run_merge(spark, processed, curated, TRANSACCIONES, "2025-04-01") is None


def test_merge_dedup_latest_wins(spark, lake):
    root, _ = lake
    import time

    processed = root / "p2"
    curated = root / "c2"
    df_old = spark.createDataFrame(
        [("C001", "old")], ["customer_id", "customer_name"]
    ).withColumn("load_timestamp_utc", F.current_timestamp()).withColumn(
        "load_date_partition", F.to_date(F.lit("2025-03-05"))
    )
    time.sleep(0.05)
    df_new = spark.createDataFrame(
        [("C001", "new")], ["customer_id", "customer_name"]
    ).withColumn("load_timestamp_utc", F.current_timestamp()).withColumn(
        "load_date_partition", F.to_date(F.lit("2025-03-05"))
    )
    path = processed / "dim_clientes"
    df_old.write.mode("append").partitionBy("load_date_partition").parquet(str(path))
    df_new.write.mode("append").partitionBy("load_date_partition").parquet(str(path))
    assert run_merge(spark, processed, curated, CLIENTES, "2025-03-05")
    out = curated_read(spark, curated, "dim_clientes").collect()
    assert len(out) == 1
    assert out[0]["customer_name"] == "new"  # latest load_timestamp_utc survives


def test_scd2_dimension_history(spark):
    """SCD2: changed keys close + reopen, unchanged pass through, new keys
    insert; history is immutable."""
    from datetime import datetime

    from energy_datalake_solution_spark.sources.merge import scd2_apply

    TS = lambda s: datetime.fromisoformat(s)
    existing = spark.createDataFrame(
        [
            # closed history row for S1
            ("S1", "Coal", TS("2020-01-01"), TS("2022-01-01"), False),
            # current rows
            ("S1", "Solar", TS("2022-01-01"), None, True),
            ("S2", "Wind", TS("2021-01-01"), None, True),
            ("S3", "Hydro", TS("2021-06-01"), None, True),
        ],
        "supplier_id string, energy_type string, valid_from timestamp, "
        "valid_to timestamp, is_current boolean",
    )
    updates = spark.createDataFrame(
        [
            ("S1", "Nuclear", TS("2024-05-01")),  # changed -> close + open
            ("S2", "Wind", TS("2024-05-01")),     # unchanged -> no-op
            ("S9", "Tidal", TS("2024-05-01")),    # new key -> insert
        ],
        "supplier_id string, energy_type string, effective_ts timestamp",
    )
    out = scd2_apply(existing, updates, "supplier_id", ["energy_type"], "effective_ts")
    rows = sorted(
        (r["supplier_id"], r["energy_type"], r["is_current"], r["valid_to"] is None)
        for r in out.collect()
    )
    assert rows == [
        ("S1", "Coal", False, False),     # old history untouched
        ("S1", "Nuclear", True, True),    # reopened with new attrs
        ("S1", "Solar", False, False),    # closed at effective_ts
        ("S2", "Wind", True, True),       # unchanged
        ("S3", "Hydro", True, True),      # not in batch -> untouched
        ("S9", "Tidal", True, True),      # inserted
    ]
    closed = {
        (r["supplier_id"], r["energy_type"]): str(r["valid_to"])
        for r in out.where("NOT is_current").collect()
    }
    assert closed[("S1", "Coal")] == "2022-01-01 00:00:00"   # history immutable
    assert closed[("S1", "Solar")] == "2024-05-01 00:00:00"  # closed by the batch


def test_incremental_daily_rollup(spark, tmp_path):
    """Late data merges into existing day partitions; untouched days are
    not rewritten."""
    import glob
    import os

    from energy_datalake_solution_spark.sources.merge import update_daily_rollup

    p = tmp_path / "rollup"
    day1 = spark.createDataFrame(
        [
            ("2024-01-01 10:00:00", "click", 1.0),
            ("2024-01-01 11:00:00", "click", 2.0),
            ("2024-01-02 09:00:00", "view", 5.0),
        ],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    update_daily_rollup(spark, day1, p)

    jan2_files = set(glob.glob(str(p / "day=2024-01-02" / "*.parquet")))
    jan2_mtime = {f: os.path.getmtime(f) for f in jan2_files}

    # batch 2: new day 2024-01-03 plus LATE events for 2024-01-01
    late = spark.createDataFrame(
        [
            ("2024-01-01 23:00:00", "click", 4.0),
            ("2024-01-03 08:00:00", "view", 7.0),
        ],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = update_daily_rollup(spark, late, p)

    got = {
        (str(r["day"]), r["dim"]): (r["n_events"], r["total_value"])
        for r in out.collect()
    }
    assert got[("2024-01-01", "click")] == (3, 7.0)   # late row merged in
    assert got[("2024-01-02", "view")] == (1, 5.0)    # untouched
    assert got[("2024-01-03", "view")] == (1, 7.0)    # new partition
    # dynamic overwrite left the untouched partition's files alone
    assert {f: os.path.getmtime(f) for f in jan2_files} == jan2_mtime
