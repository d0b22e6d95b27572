"""Processed -> curated keyed upsert (EP2, the merge path).

Re-expresses the reference's Glue Job 2 (glue_jobs/etl-s3-processed-to-
redshift.py) without a warehouse: the curated zone is parquet, and the
staging-table DELETE USING + INSERT merge (:66-96) keeps its shape. The
batch is staged once as its own data files; the files whose key range it
can touch are rewritten without its keys (a left-anti join against the
staged keys); one commit swaps them for the rewrite plus the staged
files. Steps:

  * read exactly one load-date partition of the processed zone
    (partition-path read, :37-50,109-114 -> here a partition filter that
    prunes to one directory)
  * emptiness guard (:116) via isEmpty() — no full count
  * deterministic dedup on business keys (:59 dropDuplicates ->
    row_number over keys ordered by load_timestamp_utc desc)
  * merge into curated/{table}: existing rows whose key matches an
    incoming row are replaced; everything else survives

Scale posture: at 100 TB the curated table should be Delta (MERGE INTO
rewrites only touched files). delta-spark is NOT importable in this
environment (checked: ``import delta`` -> ModuleNotFoundError, and package
installs are unavailable); sources/snapshots.py implements the table-format
CORE directly (version manifests + atomic pointer swap: snapshot isolation,
time travel, rollback, vacuum — capability-tested in tests/test_snapshots.py),
and since round 5 the DEFAULT (unpartitioned) merge COMMITS THROUGH THAT
FORMAT: every upsert is a new table version, so the curated zone gets
transactional semantics — readers keep consistent snapshots during a
merge (no staging-swap window at all), a bad load rolls back with an O(1)
pointer move (tests/test_merge_scoped.py::test_bad_load_rolls_back), and
load history time-travels. Read the curated table via ``curated_read``
(manifest-resolved), not a raw directory listing.

The alternative scale path is **partition-scoped merge** on plain
parquet: pass ``partition_by`` and merge_upsert reads back ONLY the
partitions the batch touches (partition pruning), anti-joins within them,
and dynamically overwrites just those partitions — untouched partition
files are never rewritten (byte-identity pinned in tests). The anti-join
shuffles on the business key; incoming batches are small relative to the
target, so Spark broadcasts the incoming side automatically under AQE.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .schemas import PARTITION_COLUMN, TableContract
from .snapshots import _MANIFEST_DIR


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path-class) for ``path`` via the JVM Hadoop API, so
    existence checks and renames work on any supported scheme (file://,
    hdfs://, s3a://), not just the local filesystem."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jvm.org.apache.hadoop.fs.Path


def read_processed_partition(
    spark: SparkSession, processed_root: str | Path, table_name: str, load_date: str
) -> DataFrame:
    """Read one load-date partition; the filter on the partition column
    prunes the scan to a single directory (check PartitionFilters in the
    plan)."""
    df = spark.read.parquet(str(Path(processed_root) / table_name))
    return df.where(F.col(PARTITION_COLUMN) == F.lit(load_date).cast("date"))


def dedup_on_keys(df: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """Deterministic one-row-per-key: latest load_timestamp_utc wins.

    The reference uses dropDuplicates(keys) (arbitrary survivor, :59);
    the window variant is reproducible and therefore testable.
    """
    order = [F.col("load_timestamp_utc").desc_nulls_last()]
    w = W.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")
    )


def _migrate_legacy_parquet_table(spark: SparkSession, table_path: Path):
    """If ``table_path`` holds a PRE-snapshot-format plain-parquet table
    (data files but no ``_manifests``), return its rows as a DataFrame so
    the first snapshot commit can carry them forward — otherwise None.
    Without this, the first snapshot-format merge against a table written
    by an earlier release (or by the partition-scoped path) would commit
    only the incoming batch as v1 and every pre-existing row would vanish
    behind the manifest."""
    if not table_path.exists():
        return None
    legacy_content = [
        e for e in table_path.iterdir() if e.name not in (_MANIFEST_DIR, "data")
        and not e.name.startswith(("_SUCCESS", "."))
    ]
    if not legacy_content:
        return None
    return spark.read.parquet(str(table_path))


def _remove_legacy_parquet_content(table_path: Path) -> None:
    """Delete the pre-snapshot-format files of a just-migrated table —
    everything except the format's own ``_manifests`` and ``data`` dirs.
    Called only AFTER the migration commit is durable (the rows live on in
    the v1 manifest's files)."""
    import shutil

    for e in table_path.iterdir():
        if e.name in (_MANIFEST_DIR, "data") or e.name == "_latest" or (
            e.name.startswith("_latest.")
        ):
            continue
        if e.is_dir():
            shutil.rmtree(e, ignore_errors=True)
        else:
            e.unlink(missing_ok=True)


def merge_upsert(
    spark: SparkSession,
    incoming: DataFrame,
    curated_root: str | Path,
    contract: TableContract,
    partition_by: str | None = None,
    validate_partition_stability: bool = False,
    retain_versions: int | None = None,
    partition_format: str = "hive",
) -> str:
    """Upsert incoming rows into curated/{table} on the contract's business
    keys (DELETE matching + INSERT all, reference :73-82), via anti-join.

    With ``partition_by`` the merge is **partition-scoped**: only the
    partitions present in the incoming batch are read back, anti-joined,
    and dynamically overwritten; every other partition's files are left
    byte-identical on disk. This is the parquet analogue of Delta
    ``MERGE INTO`` file-skipping and the path to use at scale.

    Correctness constraint of the scoped path: ``partition_by`` must be
    stable for a given business key (a function of the key, e.g. an event
    date derived from an immutable id — NOT the load date). If a key could
    re-arrive under a different partition value, its old row in the
    untouched partition would survive; use the unpartitioned path then.
    ``validate_partition_stability=True`` turns that documented hazard
    into a hard error by anti-checking incoming keys against the
    partitions OUTSIDE the touched set — a full-table key scan, so it is
    an opt-in audit for small/medium tables or periodic verification, not
    the hot path (at 100 TB the contract is enforced upstream instead).

    ``partition_format`` selects the scoped path's LAYOUT:
    ``"hive"`` (default, backward-compatible) keeps the plain-parquet
    dynamic-overwrite merge over ``partition=value`` directories;
    ``"snapshot"`` routes the scoped merge through the snapshot table
    format (snapshots.snapshot_upsert_partitioned: partition values as
    per-file manifest stats), so partitioned curated tables get snapshot
    isolation, time travel, rollback, history and the change feed —
    while keeping the untouched-partition byte-identity guarantee at
    file level.
    """
    target_path = str(Path(curated_root) / contract.table_name)
    keys = list(contract.upsert_keys)
    incoming = dedup_on_keys(incoming, contract.upsert_keys)

    if partition_by is None:
        # default path: commit through the snapshot format — the upsert
        # lands as a NEW table version (anti-join carry-over + batch), so
        # concurrent readers keep their resolved snapshot, a bad load is
        # an O(1) rollback, and history time-travels. No staging swap:
        # data files are immutable, only the manifest pointer advances.
        #
        # Each upsert version holds a full row copy; pass retain_versions
        # to vacuum history past that depth after the commit (what a
        # per-micro-batch streaming merge must do, or disk grows one
        # table copy per trigger). None keeps all history (batch loads,
        # where rollback depth matters more than disk).
        from .snapshots import snapshot_upsert, snapshot_vacuum

        tp = Path(target_path)
        if not (tp / _MANIFEST_DIR).exists():
            legacy = _migrate_legacy_parquet_table(spark, tp)
            if legacy is not None:
                # pre-format plain-parquet table: fold its rows into this
                # first snapshot commit or they would silently vanish
                # behind the manifest (survivors via the same anti-join)
                from .snapshots import snapshot_write

                survivors = legacy.join(
                    incoming.select(*keys), on=keys, how="left_anti"
                )
                merged = survivors.unionByName(incoming, allowMissingColumns=True)
                # eager: the rows must be materialized before we delete
                # the legacy files they were read from. Range-split on the
                # key with stats, same as a fresh table's seeded first
                # commit — migrated tables prune their upserts too.
                snapshot_write(
                    merged.localCheckpoint(eager=True), tp,
                    stats_cols=[keys[0]], n_files=8,
                )
                # the commit is durable — remove the pre-format files, or
                # they would sit beside data/ as a dead full table copy
                # that snapshot_vacuum (which only scans data/) can never
                # reclaim, and a raw directory read would double-count
                _remove_legacy_parquet_content(tp)
                if retain_versions:
                    snapshot_vacuum(tp, keep_versions=retain_versions)
                return target_path
        # seed the first commit range-split on the key with per-file
        # stats: every later upsert then rewrites only the files whose
        # key range the batch touches (stats-pruned MERGE) instead of
        # copying the table per load
        snapshot_upsert(
            spark, incoming, target_path, keys, seed_stats_files=8
        )
        if retain_versions:
            snapshot_vacuum(target_path, keep_versions=retain_versions)
        return target_path

    if partition_format == "snapshot":
        # partitioned SNAPSHOT table: partition values live in the
        # manifest as per-file stats; the scoped merge commits a new
        # version (time travel/rollback/CDF included) and carries every
        # untouched partition's files byte-identical
        from .snapshots import snapshot_upsert_partitioned, snapshot_vacuum

        tp = Path(target_path)
        if tp.exists() and not (tp / _MANIFEST_DIR).exists():
            raise ValueError(
                f"merge_upsert(partition_format='snapshot'): {target_path} "
                "exists as a plain-parquet (hive-layout) table; migrate it "
                "explicitly before switching formats."
            )
        if validate_partition_stability and (tp / _MANIFEST_DIR).exists():
            from .snapshots import snapshot_read

            touched = [
                r[0] for r in incoming.select(partition_by).distinct().collect()
            ]
            outside = snapshot_read(spark, tp).where(
                ~F.col(partition_by).isin(touched)
            )
            moved = (
                outside.select(*keys)
                .join(incoming.select(*keys), on=keys, how="left_semi")
                .limit(1)
                .collect()
            )
            if moved:
                raise ValueError(
                    f"merge_upsert(partition_by={partition_by!r}): key "
                    f"{tuple(moved[0])} re-arrived under a different "
                    "partition value; partition-scoped merge would leave "
                    "its old row alive. Use the unpartitioned path."
                )
        snapshot_upsert_partitioned(
            spark, incoming, tp, keys, partition_by
        )
        if retain_versions:
            snapshot_vacuum(tp, keep_versions=retain_versions)
        return target_path

    fs, HPath = _hadoop_fs(spark, target_path)
    if not fs.exists(HPath(target_path)):
        incoming.write.mode("overwrite").partitionBy(partition_by).parquet(target_path)
        return target_path

    if partition_by:
        # A table previously written by the DEFAULT (snapshot-format) merge
        # keeps every version's files under data/ with the live file list
        # in _manifests/. A raw recursive read of the root sees N copies of
        # each row (Spark skips the underscore-prefixed _manifests but not
        # the superseded data files), so the scoped merge would persist the
        # duplicates. The two layouts cannot mix — fail loudly.
        from pathlib import Path as _P

        if _P(target_path, _MANIFEST_DIR).exists():
            raise ValueError(
                f"merge_upsert(partition_by={partition_by!r}): {target_path}"
                " is a snapshot-format table (has _manifests/); the"
                " partition-scoped plain-parquet merge cannot read it"
                " without duplicating superseded versions. Use the default"
                " unpartitioned merge for this table."
            )
        touched = [r[0] for r in incoming.select(partition_by).distinct().collect()]
        # NULL partition values would silently break the scope: isin(NULL)
        # filters the existing NULL-partition rows OUT of the read-back, so
        # their keys would survive alongside the incoming rows (duplicated
        # key), with the new rows landing in __HIVE_DEFAULT_PARTITION__.
        # A NULL partition value is a data-contract violation here — fail
        # loudly rather than corrupt the table.
        if any(t is None for t in touched):
            raise ValueError(
                f"merge_upsert(partition_by={partition_by!r}): incoming "
                "batch contains NULL partition values; partition-scoped "
                "merge requires a non-null partition column (clean the "
                "batch or use the unpartitioned path)."
            )
        if validate_partition_stability:
            outside = spark.read.parquet(target_path).where(
                ~F.col(partition_by).isin(touched)
            )
            moved = (
                outside.select(*keys)
                .join(incoming.select(*keys), on=keys, how="left_semi")
                .limit(1)
                .collect()
            )
            if moved:
                raise ValueError(
                    f"merge_upsert(partition_by={partition_by!r}): key "
                    f"{tuple(moved[0])} re-arrived under a different "
                    "partition value; partition-scoped merge would leave "
                    "its old row alive. Use the unpartitioned path."
                )
        existing = spark.read.parquet(target_path).where(
            F.col(partition_by).isin(touched)  # prunes to touched dirs only
        )
        survivors = existing.join(incoming.select(*keys), on=keys, how="left_anti")
        merged = (
            survivors.unionByName(incoming, allowMissingColumns=True)
            # materialize before overwriting the partitions being read
            .localCheckpoint()
        )
        conf_key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(conf_key, "static")
        spark.conf.set(conf_key, "dynamic")
        try:
            merged.write.mode("overwrite").partitionBy(partition_by).parquet(target_path)
        finally:
            spark.conf.set(conf_key, prev)
        return target_path

    raise AssertionError("unreachable: both merge paths return above")


def curated_read(spark: SparkSession, curated_root: str | Path, table_name: str) -> DataFrame:
    """Read a curated table written by merge_upsert. Snapshot-format tables
    (the default merge path) resolve through their manifest — a raw
    recursive directory read would see EVERY version's files at once;
    partition-scoped tables (plain parquet layout) read directly."""
    p = Path(curated_root) / table_name
    if (p / _MANIFEST_DIR).exists():
        from .snapshots import snapshot_read

        return snapshot_read(spark, p)
    return spark.read.parquet(str(p))


def update_daily_rollup(
    spark: SparkSession,
    events: DataFrame,
    rollup_path: str | Path,
    ts_col: str = "ts",
    dim_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Incrementally maintain a daily (day, dim) rollup table from an event
    batch that may contain LATE data for already-rolled-up days.

    Counts and sums are decomposable aggregates, so maintenance never
    re-reads the fact table: aggregate the batch, read back ONLY the
    rollup partitions for days the batch touches (partition pruning on the
    day directory), re-combine, and dynamically overwrite just those
    partitions. At 100 TB the rollup is orders of magnitude smaller than
    the facts and each update touches a handful of day partitions — this
    is the pattern that turns "recompute the dashboard" into seconds.
    """
    p = str(rollup_path)
    partial = events.groupBy(
        F.to_date(F.col(ts_col)).alias("day"), F.col(dim_col).alias("dim")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(value_col), 2).alias("total_value"),
    )
    writer_conf = ("spark.sql.sources.partitionOverwriteMode", "dynamic")
    if not Path(p).exists():
        partial.write.mode("overwrite").partitionBy("day").parquet(p)
        return spark.read.parquet(p)

    touched = [r["day"] for r in partial.select("day").distinct().collect()]
    existing = spark.read.parquet(p).where(F.col("day").isin(touched))
    merged = (
        existing.unionByName(partial)
        .groupBy("day", "dim")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("total_value"), 2).alias("total_value"),
        )
        # materialize before overwriting the partitions being read
        .localCheckpoint()
    )
    prev = spark.conf.get(writer_conf[0], "static")
    spark.conf.set(*writer_conf)
    try:
        merged.write.mode("overwrite").partitionBy("day").parquet(p)
    finally:
        spark.conf.set(writer_conf[0], prev)
    return spark.read.parquet(p)


def scd2_apply(
    existing: DataFrame,
    updates: DataFrame,
    key: str,
    attrs: list[str],
    effective_ts: str,
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2: apply an update batch to a
    versioned dimension, preserving full history.

    ``existing`` carries (key, attrs..., valid_from, valid_to, is_current)
    with one is_current row per key; ``updates`` carries (key, attrs...,
    effective_ts). Semantics (the upsert the reference's dims imply,
    etl-s3-processed-to-redshift.py:66-96, but history-preserving instead
    of overwrite-in-place):

      * changed attrs  -> current row closes (valid_to = effective_ts,
        is_current = false) and a new current row opens;
      * unchanged rows and closed history pass through untouched;
      * unseen keys insert as new current rows.

    Plan shape: ONE full-outer join of current rows vs the batch on the
    key, then row-local CASE logic and a union with history. Updates
    batches are small relative to the dimension -> the join broadcasts
    under AQE; history never shuffles (pass-through union branch).
    """
    cur = existing.where(F.col("is_current"))
    hist = existing.where(~F.col("is_current"))
    u = updates.select(
        F.col(key).alias("_u_key"),
        *[F.col(a).alias(f"_u_{a}") for a in attrs],
        F.col(effective_ts).alias("_u_ts"),
    )
    j = cur.join(u, cur[key] == u["_u_key"], "full_outer")

    changed = F.col("_u_key").isNotNull() & F.col(key).isNotNull() & ~(
        F.struct(*[F.col(a) for a in attrs]) == F.struct(*[F.col(f"_u_{a}") for a in attrs])
    )
    new_key = F.col(key).isNull()

    # surviving current rows: unchanged keys keep their row; changed keys close
    survivors = j.where(F.col(key).isNotNull()).select(
        F.col(key),
        *[F.col(a) for a in attrs],
        F.col("valid_from"),
        F.when(changed, F.col("_u_ts")).otherwise(F.col("valid_to")).alias("valid_to"),
        F.when(changed, F.lit(False)).otherwise(F.lit(True)).alias("is_current"),
    )
    # opened rows: changed keys and brand-new keys
    opened = j.where(changed | new_key).select(
        F.coalesce(F.col(key), F.col("_u_key")).alias(key),
        *[F.col(f"_u_{a}").alias(a) for a in attrs],
        F.col("_u_ts").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    cols = [key, *attrs, "valid_from", "valid_to", "is_current"]
    return hist.select(*cols).unionByName(survivors).unionByName(opened)


def run_merge(
    spark: SparkSession,
    processed_root: str | Path,
    curated_root: str | Path,
    contract: TableContract,
    load_date: str,
) -> str | None:
    """EP2 end-to-end: one processed partition -> curated upsert.

    Returns None when the partition is empty (the reference's emptiness
    guard, :116 — here isEmpty(), which scans at most one row).
    """
    batch = read_processed_partition(spark, processed_root, contract.table_name, load_date)
    if batch.isEmpty():
        return None
    return merge_upsert(spark, batch, curated_root, contract)
