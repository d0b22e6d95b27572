"""Raw CSV -> processed Parquet transforms (EP1, the Spark stage).

Re-expresses the reference's Glue Job 1 (glue_jobs/dynamic-data-processor.py)
as a contract-driven pipeline:

  * CSV read with header and the reference's quoting dialect (:31-38). A
    contracted file is read with every column a string, and the contract's
    cast is the only typing: the reference's inferSchema costs a whole-file
    scan whose types the cast throws away, and it turns an all-digit key
    such as "007" into 7. Only the unrecognized passthrough infers.
  * per-file-type select/cast/alias contract (:52-139) from schemas.CONTRACTS
  * derived columns: customer_category CASE/LIKE (:88-92), hashed_customer_id
    sha2 (:94), total_cost product (:118), transaction_date (:124)
  * audit columns on every table (:66-71)
  * unknown file types pass through untouched to unrecognized_data_{type}
    with audit columns only (:130-139)
  * append to processed zone partitioned by load_date_partition (:153-155)

Scale posture: the write is partitioned by load date (partition pruning for
the merge stage reads exactly one directory); transforms are pure
projections — no shuffle at all in this stage.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import categorize_like, sha256_hex
from .formats import read_any
from .schemas import CONTRACTS, CUSTOMER_CATEGORY_MAP, PARTITION_COLUMN, TableContract


def apply_contract(df: DataFrame, contract: TableContract) -> DataFrame:
    """Typed projection + rename per the table contract (P1), plus the
    null-rejection filter (P2) when the contract declares a required key."""
    out = df.select(
        *[F.col(c.raw).cast(c.dtype).alias(c.name) for c in contract.columns]
    )
    if contract.required_key:
        out = out.where(F.col(contract.required_key).isNotNull())
    return out


def add_derived_columns(df: DataFrame, file_type: str) -> DataFrame:
    """Per-table derived columns, mirroring the reference's dispatch."""
    if file_type == "clientes":
        # CASE/LIKE canonical category (:88-92) + sha2 pseudonym (:94)
        return df.withColumn(
            "customer_category",
            categorize_like(F.col("customer_type_raw"), CUSTOMER_CATEGORY_MAP),
        ).withColumn("hashed_customer_id", sha256_hex(F.col("customer_id")))
    if file_type == "transacciones":
        # total_cost product (:118) + transaction_date derivation (:124)
        return df.withColumn(
            "total_cost", F.col("energy_quantity_mwh") * F.col("price_per_mwh")
        ).withColumn("transaction_date", F.col("transaction_timestamp").cast("date"))
    return df


def add_audit_columns(df: DataFrame, source_file: str, load_date: str) -> DataFrame:
    """Audit block stamped on every processed table (:66-71). Delegates to
    functions.scalar.audit_columns — ONE definition of the audit contract,
    shared with any other stamper, so a change (e.g. timezone policy)
    cannot silently diverge between copies."""
    from ..functions.scalar import audit_columns

    out = df
    for name, col in audit_columns(source_file, load_date).items():
        out = out.withColumn(name, col)
    return out


def transform(
    spark: SparkSession, file_type: str, raw_path: str, load_date: str
) -> tuple[str, DataFrame]:
    """Full EP1 transform: returns (table_name, DataFrame ready to write).

    Unknown file types land unchanged (plus audit columns) in
    unrecognized_data_{file_type} (:130-139) — schema-on-read passthrough.
    """
    src_name = Path(raw_path).name
    contract = CONTRACTS.get(file_type)
    raw = read_any(spark, raw_path, fmt="csv", infer=contract is None)
    if contract is None:
        return f"unrecognized_data_{file_type}", add_audit_columns(raw, src_name, load_date)
    typed = apply_contract(raw, contract)
    derived = add_derived_columns(typed, file_type)
    return contract.table_name, add_audit_columns(derived, src_name, load_date)


def _join_path(root: str | Path, name: str) -> str:
    """URI-safe path join: pathlib collapses scheme roots (s3a://bucket ->
    s3a:/bucket), so anything containing '://' joins as a plain string —
    the processed zone must work on object stores, not just local paths."""
    r = str(root)
    if "://" in r:
        return f"{r.rstrip('/')}/{name}"
    return str(Path(r) / name)


def write_processed(df: DataFrame, processed_root: str | Path, table_name: str) -> str:
    """Append to the processed zone, Hive-partitioned by load date (:153-155)."""
    path = _join_path(processed_root, table_name)
    df.write.mode("append").partitionBy(PARTITION_COLUMN).parquet(path)
    return path


def run_pipeline(
    spark: SparkSession,
    file_type: str,
    raw_path: str,
    load_date: str,
    processed_root: str | Path,
) -> str:
    """EP1 end-to-end: raw file -> processed partitioned parquet."""
    table_name, df = transform(spark, file_type, raw_path, load_date)
    return write_processed(df, processed_root, table_name)
