"""Seeded inputs for the lake benchmark.

Two kinds of input, both a pure function of ``(seed, size)``:

* the TPC-H-like lake the registry queries read (``region`` ...
  ``embeddings``), written as one single-row-group Parquet file per table,
  with the same schemas and value ranges as the repository's test data;
* the energy CSVs of the paper's medallion pipeline (``proveedores``,
  ``clientes``, ``transacciones``), one file of each per daily load.

The program under test only ever sees the written files.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
PART_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
WORDS = (
    "a the data spark query table row column key value join merge sort "
    "group agg filter scan hash window stream batch vector line order "
    "customer part big small fast slow"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EMBED_DIM = 64
N_LABELS = 10

def _rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream...), so adding a table or a
    day never shifts the values of another."""
    return np.random.default_rng([seed, *stream])


def _days(base: str, offsets: np.ndarray) -> np.ndarray:
    return (np.datetime64(base, "D") + offsets.astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n, endpoint=True) / 100.0


def lake_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten lake tables at scale factor ``sf`` (sf 0.01 has 60,000
    lineitem rows; documents and embeddings never go below 500 rows)."""
    n_cust = max(150, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_orders = max(1_500, round(1_500_000 * sf))
    n_line = max(6_000, round(6_000_000 * sf))
    n_events = max(1_000, round(1_000_000 * sf))
    n_users = max(150, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": list(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })

    r = _rng(seed, 1)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    })

    r = _rng(seed, 2)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })

    r = _rng(seed, 3)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    keys = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": names[r.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            r.integers(0, 25, n_part)
        ],
        "p_type": np.array(PART_TYPES)[r.integers(0, len(PART_TYPES), n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), i32),
        "p_retailprice": (9000 + keys % 1000) / 10.0,
    })

    r = _rng(seed, 4)
    order_day = r.integers(0, 2404, n_orders)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), i64),
        "o_custkey": pa.array(r.integers(0, n_cust, n_orders), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_orders)],
        "o_totalprice": _money(r, 1000, 500_000, n_orders),
        "o_orderdate": pa.array(_days("1995-01-01", order_day), pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_orders)],
    })

    r = _rng(seed, 5)
    l_order = r.integers(0, n_orders, n_line)
    qty = r.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, i64),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), i32),
        "l_quantity": qty,
        # whole hundreds: every discounted and taxed amount is then exact
        # to the cent, so rounded sums never sit on a rounding tie
        "l_extendedprice": qty * 100 * r.integers(9, 22, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": pa.array(
            _days("1995-01-01", order_day[l_order] + r.integers(1, 122, n_line)),
            pa.timestamp("us"),
        ),
    })

    r = _rng(seed, 6)
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, month_us, n_events))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": pa.array(
            np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(r.integers(0, n_users, n_events), i64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_events)],
        "value": np.round(r.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)],
    })

    r = _rng(seed, 7)
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        if i and r.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[r.integers(0, len(words), int(r.integers(10, 101)))]))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })

    r = _rng(seed, 8)
    centers = r.standard_normal((N_LABELS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = r.integers(0, N_LABELS, n_emb)
    vecs = r.standard_normal((n_emb, EMBED_DIM)) + 1.1 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return out


def write_lake(root: Path, seed: int, sf: float) -> Path:
    """Write the lake under ``root`` as ``<table>.parquet``; returns root."""
    root.mkdir(parents=True, exist_ok=True)
    for name, table in lake_tables(seed, sf).items():
        pq.write_table(table, root / f"{name}.parquet")
    return root


# --------------------------------------------------------------------------
# Energy CSVs for the medallion pipeline
# --------------------------------------------------------------------------

ENERGY_TYPES = ("Solar", "Eolica", "Hidroelectrica", "Termica", "Nuclear")
COUNTRIES = ("Colombia", "Chile", "Peru", "Ecuador", "Argentina", "Brasil", "Mexico", "Espana")
CITIES = ("Bogota", "Medellin", "Cali", "Santiago", "Lima", "Quito", "Madrid", "Sevilla")
CUSTOMER_TYPES = ("Residencial", "Comercial", "Industrial")
FILE_TYPES = ("proveedores", "clientes", "transacciones")
REARRIVAL_SHARE = 0.2  # of a day's rows whose key arrived on an earlier day


@dataclass(frozen=True)
class EnergySizes:
    """New keys per daily load, per file type."""
    suppliers: int
    customers: int
    transactions: int


def _day_keys(r: np.random.Generator, day: int, n_new: int) -> np.ndarray:
    """This day's keys: ``n_new`` fresh ones plus re-arrivals drawn without
    replacement from earlier days, so that re-arrivals are
    REARRIVAL_SHARE of the file and no key repeats within it."""
    fresh = np.arange(day * n_new, (day + 1) * n_new)
    if day == 0:
        return fresh
    n_old = round(n_new * REARRIVAL_SHARE / (1 - REARRIVAL_SHARE))
    old = r.choice(day * n_new, size=min(n_old, day * n_new), replace=False)
    return np.concatenate([fresh, np.sort(old)])


def energy_day(seed: int, day: int, sizes: EnergySizes) -> dict[str, pd.DataFrame]:
    """The three landed files of daily load ``day`` as string frames, with
    the raw (Spanish) headers the transform contracts expect."""
    out: dict[str, pd.DataFrame] = {}

    r = _rng(seed, 100, day)
    k = _day_keys(r, day, sizes.suppliers)
    start = np.datetime64("2015-01-01") + r.integers(0, 3650, len(k)).astype("timedelta64[D]")
    out["proveedores"] = pd.DataFrame({
        "ID_Proveedor": [f"P{i:05d}" for i in k],
        "NombreProveedor": [f"Proveedor {i} d{day}" for i in k],
        "TipoEnergia": np.array(ENERGY_TYPES)[r.integers(0, len(ENERGY_TYPES), len(k))],
        "PaisOrigen": np.array(COUNTRIES)[r.integers(0, len(COUNTRIES), len(k))],
        "FechaInicioContrato": start.astype(str),
    })

    r = _rng(seed, 200, day)
    k = _day_keys(r, day, sizes.customers)
    out["clientes"] = pd.DataFrame({
        "ID_Cliente": [f"C{i:06d}" for i in k],
        "NombreCliente": [f"Cliente {i} d{day}" for i in k],
        "TipoCliente": np.array(CUSTOMER_TYPES)[r.integers(0, 3, len(k))],
        "Direccion": [f"Calle {a} # {b}-{c}" for a, b, c in r.integers(1, 200, (len(k), 3))],
        "Ciudad": np.array(CITIES)[r.integers(0, len(CITIES), len(k))],
        "Pais": np.array(COUNTRIES)[r.integers(0, len(COUNTRIES), len(k))],
    })

    r = _rng(seed, 300, day)
    k = _day_keys(r, day, sizes.transactions)
    n = len(k)
    secs = r.integers(0, 2 * 365 * 86_400, n)  # 2024-01-01 .. 2025-12-31
    when = np.datetime64("2024-01-01T00:00:00") + secs.astype("timedelta64[s]")
    out["transacciones"] = pd.DataFrame({
        "ID_Transaccion": [f"T{i:08d}" for i in k],
        "ID_Cliente": [f"C{i:06d}" for i in r.integers(0, (day + 1) * sizes.customers, n)],
        "ID_Proveedor": [f"P{i:05d}" for i in r.integers(0, (day + 1) * sizes.suppliers, n)],
        "FechaTransaccion": np.datetime_as_string(when, unit="s"),
        "CantidadEnergiaMWh": [f"{v:.3f}" for v in r.integers(1_000, 500_000, n) / 1000],
        "PrecioPorMWh": [f"{v:.2f}" for v in r.integers(2_000, 30_000, n) / 100],
    })
    out["transacciones"]["FechaTransaccion"] = out["transacciones"][
        "FechaTransaccion"].str.replace("T", " ")
    return out


def write_energy_day(landing: Path, seed: int, day: int, sizes: EnergySizes) -> dict[str, Path]:
    """Land the day's three CSVs as ``<type>_day<NNN>.csv``; returns their
    paths by file type."""
    landing.mkdir(parents=True, exist_ok=True)
    paths = {}
    for file_type, df in energy_day(seed, day, sizes).items():
        p = landing / f"{file_type}_day{day:03d}.csv"
        df.to_csv(p, index=False, lineterminator="\n")
        paths[file_type] = p
    return paths
