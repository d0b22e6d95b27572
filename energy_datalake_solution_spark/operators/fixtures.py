"""End-to-end ETL fixture query: EP1 (raw CSV -> processed) + EP2
(processed -> curated upsert) on deterministic FIXTURES.md Family B CSVs,
emitting the curated fact table for golden-oracle comparison.

This puts the reference's WRITE path (glue_jobs/dynamic-data-processor.py
EP1, glue_jobs/etl-s3-processed-to-redshift.py EP2) under the driver's
hash gate, not just pytest: two transaction batches land on consecutive
load dates, the second updates one key and inserts another, and the query
returns the deterministic columns of the curated table. The oracle is the
golden result as a VALUES literal — any regression in contract casts,
derived columns (total_cost, transaction_date), dedup, or the anti-join
upsert changes the hash.

The fixture lake is built per call in a fresh tmpdir (a few KB of CSV);
the audit columns that are non-deterministic by design (wall-clock
load_timestamp_utc, tmp-path source_file) are excluded from the output.
"""

from __future__ import annotations

import os
import tempfile
import textwrap
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.catalog import path_tag
from ..sources.ingest import ingest_file
from ..sources.merge import run_merge
from ..sources.schemas import TRANSACCIONES
from ..sources.transform import run_pipeline

# FIXTURES.md Family B transacciones batches (same content as the pytest
# goldens in tests/test_etl_pipeline.py): batch 2 updates T002 and inserts
# T004, exercising dedup + upsert across load dates.
_BATCH_1 = textwrap.dedent(
    """\
    ID_Transaccion,ID_Cliente,ID_Proveedor,FechaTransaccion,CantidadEnergiaMWh,PrecioPorMWh
    T001,C001,P001,2025-03-01 10:00:00,10.5,50.0
    T002,C002,P002,2025-03-02 11:30:00,20.0,45.5
    T003,C003,P001,2024-12-31 23:59:59,5.25,60.0
    """
)
_BATCH_2 = textwrap.dedent(
    """\
    ID_Transaccion,ID_Cliente,ID_Proveedor,FechaTransaccion,CantidadEnergiaMWh,PrecioPorMWh
    T002,C002,P002,2025-03-02 11:30:00,99.0,45.5
    T004,C001,P003,2025-03-03 08:15:00,7.0,55.0
    """
)
_LOADS = (("transacciones_b1.csv", _BATCH_1, "2025-03-05"),
          ("transacciones_b2.csv", _BATCH_2, "2025-03-06"))

_DETERMINISTIC_COLS = (
    "transaction_id",
    "customer_id",
    "supplier_id",
    "transaction_timestamp",
    "energy_quantity_mwh",
    "price_per_mwh",
    "total_cost",
    "transaction_date",
    "load_date_partition",
)


@register(
    "fixtures_etl_curated",
    oracle="""
        SELECT * FROM (VALUES
            ('T001', 'C001', 'P001', TIMESTAMP '2025-03-01 10:00:00',
             10.5::DOUBLE, 50.0::DOUBLE, 525.0::DOUBLE,
             DATE '2025-03-01', DATE '2025-03-05'),
            ('T002', 'C002', 'P002', TIMESTAMP '2025-03-02 11:30:00',
             99.0::DOUBLE, 45.5::DOUBLE, 4504.5::DOUBLE,
             DATE '2025-03-02', DATE '2025-03-06'),
            ('T003', 'C003', 'P001', TIMESTAMP '2024-12-31 23:59:59',
             5.25::DOUBLE, 60.0::DOUBLE, 315.0::DOUBLE,
             DATE '2024-12-31', DATE '2025-03-05'),
            ('T004', 'C001', 'P003', TIMESTAMP '2025-03-03 08:15:00',
             7.0::DOUBLE, 55.0::DOUBLE, 385.0::DOUBLE,
             DATE '2025-03-03', DATE '2025-03-06')
        ) AS t(transaction_id, customer_id, supplier_id,
               transaction_timestamp, energy_quantity_mwh, price_per_mwh,
               total_cost, transaction_date, load_date_partition)
    """,
    tags=("etl", "fixtures", "merge"),
)
def fixtures_etl_curated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run EP1+EP2 on the Family B transaction fixtures and return the
    curated fact table's deterministic columns. ``sf_dir`` is unused —
    the fixtures are self-contained (the write path has no scale knob).
    """
    import shutil

    # deterministic per-process scratch lake, rebuilt each invocation —
    # same no-leak policy as snapshot_versioned_orders below
    root = Path(tempfile.gettempdir()) / f"fixtures_etl_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    landing = root / "landing"
    landing.mkdir(parents=True)
    processed, curated = root / "processed", root / "curated"
    for fname, content, load_date in _LOADS:
        f = landing / fname
        f.write_text(content)
        now = datetime.fromisoformat(load_date).replace(tzinfo=timezone.utc)
        res = ingest_file(f, root, now=now)
        run_pipeline(spark, res.file_type, res.raw_path, res.load_date, processed)
        run_merge(spark, processed, curated, TRANSACCIONES, load_date)
    from ..sources.merge import curated_read

    out = curated_read(spark, curated, TRANSACCIONES.table_name)
    # eagerly materialize before returning: the NEXT invocation rmtree's
    # this scratch lake, so a caller that caches the returned DataFrame and
    # re-executes it later must not depend on the files still existing
    return out.select(*_DETERMINISTIC_COLS).localCheckpoint(eager=True)


@register(
    "snapshot_versioned_orders",
    oracle="""
        SELECT 1 AS version, o_orderkey AS order_id,
               o_totalprice AS total_price, o_orderstatus AS order_status
        FROM orders WHERE o_orderkey % 100 < 50
        UNION ALL
        SELECT 2, o_orderkey,
               CASE WHEN o_orderkey % 100 >= 40 THEN o_totalprice + 10
                    ELSE o_totalprice END,
               o_orderstatus
        FROM orders WHERE o_orderkey % 100 < 60
    """,
    tags=("snapshot", "merge", "versioning"),
)
def snapshot_versioned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The version-manifest table format (sources/snapshots.py) under the
    driver's hash gate, not just pytest: commit an orders subset as v1,
    upsert a batch that UPDATES the keys' [40, 50) band (price + 10) and
    INSERTS the [50, 60) band as v2, then emit the TIME-TRAVEL read of v1
    alongside the latest read, version-tagged. The oracle derives both
    versions arithmetically from the orders table, so a regression in the
    commit protocol, the upsert's anti-join carry-over, or manifest
    resolution changes the hash. Per-row money arithmetic is emitted raw
    (identical IEEE sum on both engines; no rounding ties)."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshots import snapshot_read, snapshot_upsert, snapshot_write

    # one deterministic scratch table per (process, sf_dir), rebuilt from
    # scratch each invocation — repeated bench/gate calls must not leak a
    # directory per call (the returned DataFrame lazily reads these files,
    # so cleanup happens at the NEXT invocation, never mid-read)
    base = Path(tempfile.gettempdir()) / (
        f"snap_orders_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "table"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    band = F.pmod("o_orderkey", F.lit(100))
    snapshot_write(o.where(band < 50), t)
    batch = o.where((band >= 40) & (band < 60)).select(
        "o_orderkey",
        (F.col("o_totalprice") + 10).alias("o_totalprice"),
        "o_orderstatus",
    )
    snapshot_upsert(spark, batch, t, ["o_orderkey"])

    def tagged(version: int) -> DataFrame:
        return snapshot_read(spark, t, version=version).select(
            F.lit(version).alias("version"),
            F.col("o_orderkey").alias("order_id"),
            F.col("o_totalprice").alias("total_price"),
            F.col("o_orderstatus").alias("order_status"),
        )

    # eager materialization: same invalidation contract as
    # fixtures_etl_curated above — the next invocation rebuilds the scratch
    # table, so the returned frame must not lazily re-read its files
    return tagged(1).unionByName(tagged(2)).localCheckpoint(eager=True)


@register(
    "snapshot_pruned_range_read",
    oracle="""
        SELECT o_orderkey AS order_id, o_totalprice AS total_price,
               (SELECT CAST(count(*) AS BIGINT) FROM orders) AS table_rows_metadata
        FROM orders
        WHERE o_orderkey BETWEEN 1000 AND 2999
    """,
    tags=("snapshot", "stats", "pruning"),
)
def snapshot_pruned_range_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-5 snapshot-format features under the driver's hash gate:
    commit orders through snapshot_write with stats_cols (range-split
    into 8 files with per-file min/max + row-count manifest stats), then
    answer a keyed range query through snapshot_read(where=...) — which
    prunes FILES against the manifest before Spark lists a path — and
    stamp every row with the MANIFEST-derived total row count (snapshot_row_count:
    COUNT(*) with no file opened). The oracle recomputes both from the
    raw orders table, so a pruning bug that loses rows, a stats slip that
    mis-bounds a file, or a row-count drift in the manifest all fail the
    hash. (Pruning's no-loss contract also pinned in
    tests/test_snapshots.py; this puts it under the independent gate.)"""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshots import (
        snapshot_read,
        snapshot_row_count,
        snapshot_write,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_range_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "table"
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    snapshot_write(o, t, stats_cols=["o_orderkey"], n_files=8)
    meta_rows = snapshot_row_count(t)  # manifest-only COUNT(*)
    out = snapshot_read(
        spark, t, where=[{"o_orderkey": (1000, 2999)}]
    ).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_price"),
        F.lit(meta_rows).cast("long").alias("table_rows_metadata"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_retention_delete_orders",
    oracle="""
        SELECT 1 AS version, o_orderkey AS order_id,
               o_totalprice AS total_price
        FROM orders
        UNION ALL
        SELECT 2, o_orderkey, o_totalprice
        FROM orders WHERE o_orderkey NOT BETWEEN 1000 AND 2999
    """,
    tags=("snapshot", "delete", "versioning"),
)
def snapshot_retention_delete_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stats-pruned copy-on-write DELETE under the driver's hash gate:
    commit orders range-split on the key with per-file stats as v1, run
    snapshot_delete_range over [1000, 2999] (only the overlapping files
    rewrite; the rest carry by reference) as v2, then emit the
    TIME-TRAVEL read of v1 — which must still contain the deleted rows —
    alongside the post-delete latest, version-tagged. The oracle derives
    both versions arithmetically, so a pruning slip that loses a row
    outside the range, leaks one inside it, or breaks the carried files'
    readability changes the hash."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshots import (
        snapshot_delete_range,
        snapshot_read,
        snapshot_write,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_del_orders_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "table"
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    snapshot_write(o, t, stats_cols=["o_orderkey"], n_files=8)
    snapshot_delete_range(spark, t, "o_orderkey", 1000, 2999)

    def tagged(version: int) -> DataFrame:
        return snapshot_read(spark, t, version=version).select(
            F.lit(version).alias("version"),
            F.col("o_orderkey").alias("order_id"),
            F.col("o_totalprice").alias("total_price"),
        )

    # eager: same scratch-invalidation contract as the sibling fixtures
    return tagged(1).unionByName(tagged(2)).localCheckpoint(eager=True)


@register(
    "snapshot_bloom_point_lookup_orders",
    oracle="""
        SELECT o_orderkey AS order_id, o_custkey AS customer_id,
               o_totalprice AS total_price
        FROM orders WHERE o_custkey = 421
    """,
    tags=("snapshot", "bloom", "pruning"),
)
def snapshot_bloom_point_lookup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file Bloom filters under the driver's hash gate: commit orders
    range-split on the ORDER key (so every file spans the full customer
    range — min/max stats alone cannot prune a customer lookup) with
    manifest blooms on o_custkey, then answer a point lookup for one
    customer by reading ONLY the files whose filter admits the value.
    The oracle is the plain filter over the raw table, so a bloom with a
    false negative (a skipped file that held the customer's orders)
    changes the hash — the no-false-negative contract, independently
    gated. File-count pruning itself is pinned in
    tests/test_snapshots.py; a guard here asserts the lookup genuinely
    read a SUBSET of the table's files."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_files,
        snapshot_write,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_bloom_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "table"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    snapshot_write(
        o, t, bloom_cols=["o_custkey"], stats_cols=["o_orderkey"], n_files=8
    )
    files = snapshot_files(t, [{"o_custkey": (421, 421)}])
    total = len(_read_manifest(t, current_version(t))["files"])
    # pruning guard on a value ABSENT from the table: a real customer's
    # orders may legitimately span every file, but an absent key must be
    # rejected by (almost) all filters — a degenerate bloom that admits
    # everything should fail loudly, not silently full-scan
    ghost = len(snapshot_files(t, [{"o_custkey": (-10**9, -10**9)}]))
    # threshold derived from the filters' design FP rate rather than a
    # fixed total//2: filters are sized to BLOOM_BITS_PER_KEY bits per
    # distinct key (~0.1% FP at any per-file cardinality), so even a
    # 100x-the-design FP rate admits well under 2 + 10% of files — more
    # than that means the filters have genuinely stopped pruning
    if total and ghost > max(2, -(-total // 10)):
        raise RuntimeError(
            f"bloom admits {ghost}/{total} files for an absent key — "
            "filters are not pruning"
        )
    if not files:
        out = spark.createDataFrame(
            [], "order_id long, customer_id long, total_price double"
        )
    else:
        out = (
            spark.read.schema("o_orderkey long, o_custkey long, o_totalprice double")
            .parquet(*[str(t / f) for f in files])
            .where(F.col("o_custkey") == 421)
            .select(
                F.col("o_orderkey").alias("order_id"),
                F.col("o_custkey").alias("customer_id"),
                F.col("o_totalprice").alias("total_price"),
            )
        )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_zorder_rect_read",
    oracle="""
        SELECT l_orderkey AS order_id,
               l_partkey AS part_id,
               l_suppkey AS supplier_id,
               l_quantity AS quantity
        FROM lineitem
        WHERE l_partkey BETWEEN 1 AND 50 AND l_suppkey BETWEEN 1 AND 5
    """,
    tags=("snapshot", "stats", "pruning", "zorder"),
)
def snapshot_zorder_rect_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER under the driver's hash gate: ingest lineitem into
    a snapshot table as three arrival-ordered appends (no (part, supp)
    locality — the post-streaming state every real table degrades into),
    run snapshot_zorder_compact_n over (l_partkey, l_suppkey), then answer
    a 2-D rectangle query through snapshot_read(where=...), which lists only
    the files whose manifest stats overlap BOTH ranges. The deterministic
    z-bucket layout makes each file a compact Morton rectangle, so the
    corner rectangle must admit a strict subset of files — a guard
    raises if the pruning regressed to a full listing. The oracle is the
    plain two-predicate filter over raw lineitem: pruning that loses a
    file's rows (a stats slip, a rectangle mix-up, a lost row in the
    compaction rewrite) fails the hash."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_append,
        snapshot_read,
        snapshot_write,
        snapshot_zorder_compact_n,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_zrect_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "table"
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    third = F.pmod("l_orderkey", F.lit(3))
    snapshot_write(l.where(third == 0), t)
    snapshot_append(l.where(third == 1), t)
    snapshot_append(l.where(third == 2), t)
    snapshot_zorder_compact_n(spark, t, ["l_partkey", "l_suppkey"], n_files=8)
    total = len(_read_manifest(t, current_version(t))["files"])
    out = snapshot_read(
        spark, t, where=[{"l_partkey": (1, 50), "l_suppkey": (1, 5)}]
    )
    # pruning guard: the corner rectangle must touch a strict subset of
    # the z-ordered files (both dimensions contribute cuts)
    admitted = len(out.inputFiles())
    if total >= 4 and admitted > total // 2:
        raise RuntimeError(
            f"z-order rect read admits {admitted}/{total} files — "
            "two-dimensional pruning is not happening"
        )
    out = out.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_partkey").alias("part_id"),
        F.col("l_suppkey").alias("supplier_id"),
        F.col("l_quantity").alias("quantity"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_schema_evolution_read",
    oracle="""
        SELECT o_orderkey AS order_id, o_totalprice AS total_price,
               NULL AS order_status
        FROM orders WHERE o_orderkey % 100 < 50
        UNION ALL
        SELECT o_orderkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 100 >= 50
    """,
    tags=("snapshot", "schema-evolution"),
)
def snapshot_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution under the driver's hash gate: commit an
    orders subset WITHOUT the status column, append a second band whose
    files carry the new ``order_status`` column, and read the table with
    ``merge_schema=True`` — pre-evolution rows surface the added column
    as NULL (Delta's additive evolution semantics), post-evolution rows
    carry their values. The oracle derives both bands from raw orders
    with an explicit NULL literal, so a read that drops the late column,
    loses pre-evolution rows, or backfills instead of NULLing fails the
    hash."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshots import snapshot_append, snapshot_read, snapshot_write

    base = Path(tempfile.gettempdir()) / (
        f"snap_evo_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "table"
    o = load_table(spark, sf_dir, "orders")
    band = F.pmod("o_orderkey", F.lit(100))
    snapshot_write(
        o.where(band < 50).select("o_orderkey", "o_totalprice"), t
    )
    snapshot_append(
        o.where(band >= 50).select("o_orderkey", "o_totalprice", "o_orderstatus"),
        t,
    )
    out = snapshot_read(spark, t, merge_schema=True).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_price"),
        F.col("o_orderstatus").alias("order_status"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_mor_delete_read",
    oracle="""
        SELECT o_orderkey AS order_id, o_totalprice AS total_price
        FROM orders
        WHERE o_orderkey NOT BETWEEN 1000 AND 2999
    """,
    tags=("snapshot", "delete", "mor"),
)
def snapshot_mor_delete_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE under the driver's hash gate: commit orders
    range-split with stats, delete a key band via
    snapshot_delete_range_mor — which rewrites NO data file, only adds
    the matching rows' positions as deletion vectors to the manifest —
    and read the table back. A guard raises if the commit touched the
    file list (the whole point is O(matched rows) metadata instead of a
    rewrite). The oracle is the complement filter over raw orders, so a
    vector that misses a row, hits a wrong position, or fails to apply
    on the read path fails the hash."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_delete_range_mor,
        snapshot_read,
        snapshot_write,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_mor_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "table"
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    snapshot_write(o, t, stats_cols=["o_orderkey"], n_files=8)
    before = list(_read_manifest(t, current_version(t))["files"])
    snapshot_delete_range_mor(spark, t, "o_orderkey", 1000, 2999)
    m = _read_manifest(t, current_version(t))
    if m["files"] != sorted(before) or m.get("op") != "delete-mor":
        raise RuntimeError(
            "MOR delete rewrote data files — deletion vectors not engaged"
        )
    out = snapshot_read(spark, t).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_price"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_change_feed_orders",
    oracle="""
        SELECT 'insert' AS change_type, o_orderkey AS order_id,
               o_totalprice + 10 AS total_price
        FROM orders WHERE o_orderkey BETWEEN 1000 AND 1499
        UNION ALL
        SELECT 'delete', o_orderkey, o_totalprice
        FROM orders WHERE o_orderkey BETWEEN 1000 AND 1499
        UNION ALL
        SELECT 'delete', o_orderkey, o_totalprice
        FROM orders WHERE o_orderkey BETWEEN 2000 AND 2499
    """,
    tags=("snapshot", "cdc", "mor"),
)
def snapshot_change_feed_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest-aware change feed under the driver's hash gate:
    commit orders range-split (v1), upsert a narrow key band with
    price+10 (a pruned rewrite — one file touched), MOR-delete a second
    band (deletion vectors, no rewrite), then emit
    snapshot_change_feed(v1, v3). The oracle derives the NET changes
    arithmetically: the update band appears as delete(old)+insert(new),
    the deleted band as delete(row) — and nothing else, because carried
    rewrite rows must cancel via the feed's content EXCEPT ALL. A feed
    that over-reports carried rows, misses a DV delta, or reads the
    wrong version's vectors fails the hash."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshots import (
        current_version,
        snapshot_change_feed,
        snapshot_delete_range_mor,
        snapshot_upsert,
        snapshot_write,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_cdf_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "table"
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    snapshot_write(o, t, stats_cols=["o_orderkey"], n_files=8)
    v1 = current_version(t)
    band = (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") <= 1499)
    snapshot_upsert(
        spark,
        o.where(band).select(
            "o_orderkey", (F.col("o_totalprice") + 10).alias("o_totalprice")
        ),
        t,
        ["o_orderkey"],
    )
    snapshot_delete_range_mor(spark, t, "o_orderkey", 2000, 2499)
    out = snapshot_change_feed(spark, t, v1).select(
        F.col("_change_type").alias("change_type"),
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_price"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_partitioned_merge_read",
    headline=True,
    oracle="""
        SELECT o_orderkey AS order_id,
               CAST(year(o_orderdate) AS INT) AS order_year,
               CASE WHEN o_orderkey % 100 < 10
                         AND year(o_orderdate) = 1995
                    THEN o_totalprice + 5 ELSE o_totalprice
               END AS total_price
        FROM orders
    """,
    tags=("snapshot", "merge", "partition"),
)
def snapshot_partitioned_merge_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-scoped merge THROUGH the snapshot format under the
    driver's hash gate (round-6 verdict ask #4): commit orders
    partitioned by order year — partition values live in the manifest as
    exact per-file point stats (snapshot_upsert_partitioned, one file
    per partition value) — then merge a batch touching ONLY the 1995
    partition (price+5 on a key band). Guards raise unless (a) every
    other partition's files are carried byte-for-byte into the new
    manifest (the untouched-partition contract at file level) and
    (b) the 1995 files were actually rewritten. The oracle derives the
    merged state arithmetically from raw orders, so a scoped read-back
    that loses carried rows, rewrites the wrong partition, or drops
    un-matched keys in the touched partition fails the hash. Unlike the
    hive-layout scoped merge (reference
    etl-s3-processed-to-redshift.py:66-96's partition-day scoping via
    Redshift staging), the table keeps snapshot isolation, time travel
    and history."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_read,
        snapshot_upsert_partitioned,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_part_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "table"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        "o_totalprice",
    )
    snapshot_upsert_partitioned(
        spark, o, t, ["o_orderkey"], "order_year"
    )
    v1 = current_version(t)
    m1 = _read_manifest(t, v1)
    untouched_before = {
        f for f, s in m1["stats"].items()
        if s.get("order_year") and s["order_year"][1] != 1995
    }
    batch = o.where(
        (F.col("order_year") == 1995) & (F.pmod("o_orderkey", F.lit(100)) < 10)
    ).withColumn("o_totalprice", F.col("o_totalprice") + 5)
    batch_is_empty = batch.isEmpty()  # empty-lake sweep: guards vacuous
    snapshot_upsert_partitioned(
        spark, batch, t, ["o_orderkey"], "order_year"
    )
    m2 = _read_manifest(t, current_version(t))
    if not untouched_before <= set(m2["files"]):
        raise RuntimeError(
            "partitioned merge rewrote files of untouched partitions"
        )
    touched_before = set(m1["files"]) - untouched_before
    if not batch_is_empty and touched_before & set(m2["files"]):
        raise RuntimeError(
            "partitioned merge carried a touched partition's files"
        )
    out = snapshot_read(spark, t).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("order_year").cast("int").alias("order_year"),
        F.col("o_totalprice").alias("total_price"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_tail_changes_orders",
    oracle="""
        SELECT 1 AS version, 'insert' AS change_type,
               o_orderkey AS order_id, o_totalprice AS total_price
        FROM orders WHERE o_orderkey % 100 < 50
        UNION ALL
        SELECT 2, 'insert', o_orderkey, o_totalprice + 10
        FROM orders WHERE o_orderkey % 100 < 50
          AND o_orderkey BETWEEN 1000 AND 1499
        UNION ALL
        SELECT 2, 'delete', o_orderkey, o_totalprice
        FROM orders WHERE o_orderkey % 100 < 50
          AND o_orderkey BETWEEN 1000 AND 1499
        UNION ALL
        SELECT 3, 'delete', o_orderkey, o_totalprice
        FROM orders WHERE o_orderkey % 100 < 50
          AND o_orderkey BETWEEN 2000 AND 2499
    """,
    tags=("snapshot", "cdc", "streaming"),
)
def snapshot_tail_changes_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming change-feed CONSUMER under the driver's hash gate
    (round-6 verdict ask #3): commit an orders subset (v1), upsert a key
    band with price+10 (v2, pruned rewrite), MOR-delete a second band
    (v3, deletion vectors), then TAIL the table with
    snapshot_tail_changes — one micro-batch per version, exactly-once
    progress stamped in the consumer's own snapshot txn map — a restart
    halfway through must resume, not replay. The output is the union of
    the delivered batches stamped with their version: v1 is the initial
    contents as inserts, v2 nets to delete(old)+insert(new) for the
    updated band, v3 is the DV deletes. The oracle derives all four
    blocks arithmetically, so a consumer that replays a consumed
    version, skips one, or mis-reads a window fails the hash."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshots import (
        snapshot_delete_range_mor,
        snapshot_tail_changes,
        snapshot_upsert,
        snapshot_write,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_tail_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t, prog = base / "table", base / "progress"
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.pmod("o_orderkey", F.lit(100)) < 50)
        .select("o_orderkey", "o_totalprice")
    )
    snapshot_write(o, t, stats_cols=["o_orderkey"], n_files=8)
    band = (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") <= 1499)
    snapshot_upsert(
        spark,
        o.where(band).select(
            "o_orderkey", (F.col("o_totalprice") + 10).alias("o_totalprice")
        ),
        t,
        ["o_orderkey"],
    )
    snapshot_delete_range_mor(spark, t, "o_orderkey", 2000, 2499)
    batches: list[DataFrame] = []

    def sink(df: DataFrame, ver: int) -> None:
        batches.append(df.withColumn("version", F.lit(ver)))

    # consume v1, then "restart": a second call must resume at v2
    snapshot_tail_changes(spark, t, prog, sink, max_versions=1)
    snapshot_tail_changes(spark, t, prog, sink)
    out = batches[0]
    for b in batches[1:]:
        out = out.unionByName(b)
    out = out.select(
        F.col("version").cast("int").alias("version"),
        F.col("_change_type").alias("change_type"),
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_price"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_column_mapping_read",
    oracle="""
        SELECT o_orderkey AS order_id, o_totalprice AS price,
               CAST(NULL AS VARCHAR) AS status
        FROM orders WHERE o_orderkey % 100 < 50
        UNION ALL
        SELECT o_orderkey, o_totalprice + 1, 'NEW'
        FROM orders WHERE o_orderkey % 100 >= 50
    """,
    tags=("snapshot", "schema-evolution", "column-mapping"),
)
def snapshot_column_mapping_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-mapping schema evolution under the driver's hash gate
    (round-6 verdict ask #5): commit an orders band, enable mapping,
    RENAME o_totalprice->price (metadata-only — a guard raises if any
    data file was rewritten), DROP o_orderstatus, RE-ADD a column named
    o_orderstatus (alias ``status``... the same logical name as the
    dropped one), then append the second band through the renamed
    logical schema. The oracle derives the exact expected frame: the
    pre-evolution band keeps its prices under the new name with NULL
    status — the dropped column's values must NOT resurrect under the
    re-added column (fresh physical name) — and the appended band
    carries its own status. A read that resurrects dropped bytes, maps
    a rename to the wrong physical, or loses pre-rename rows fails the
    hash."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_add_column,
        snapshot_append,
        snapshot_drop_column,
        snapshot_enable_column_mapping,
        snapshot_read,
        snapshot_rename_column,
        snapshot_write,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_colmap_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "table"
    o = load_table(spark, sf_dir, "orders")
    band = F.pmod("o_orderkey", F.lit(100))
    snapshot_write(
        o.where(band < 50).select("o_orderkey", "o_totalprice", "o_orderstatus"),
        t,
    )
    files_before = set(_read_manifest(t, current_version(t))["files"])
    snapshot_enable_column_mapping(spark, t)
    snapshot_rename_column(t, "o_totalprice", "price")
    snapshot_drop_column(t, "o_orderstatus")
    snapshot_add_column(t, "o_orderstatus", "string")
    if set(_read_manifest(t, current_version(t))["files"]) != files_before:
        raise RuntimeError("column-mapping DDL rewrote data files")
    snapshot_append(
        o.where(band >= 50).select(
            "o_orderkey",
            (F.col("o_totalprice") + 1).alias("price"),
            F.lit("NEW").alias("o_orderstatus"),
        ),
        t,
    )
    out = snapshot_read(spark, t).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("price"),
        F.col("o_orderstatus").alias("status"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_clone_divergence",
    oracle="""
        WITH visible AS (
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE NOT (o_orderkey BETWEEN 3000 AND 3499)
        )
        SELECT o_orderkey AS order_id, o_totalprice AS total_price
        FROM visible
        UNION ALL
        SELECT o_orderkey, o_totalprice + 100
        FROM visible WHERE o_orderkey % 100 < 5
    """,
    tags=("snapshot", "clone"),
)
def snapshot_clone_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow clone + timestamp travel under the driver's hash gate:
    commit orders, MOR-delete a key band, SHALLOW-CLONE the table (zero
    data copied — guarded: the clone's data dir must be empty after the
    clone), append a derived batch to the clone, then read the clone.
    Inherited rows must carry the source's deletion vectors through the
    clone's absolute file refs, the appended rows must coexist with them,
    and the SOURCE must be byte-identical after the clone's divergence
    (guarded by manifest equality). A timestamp captured between the
    clone and the divergence must time-travel the clone back to exactly
    the inherited rowcount. The oracle derives the full final state
    arithmetically from raw orders, so resurrected deleted rows, lost
    inherited rows, or a miscarried DV all fail the hash. Delta-parity:
    CREATE TABLE ... SHALLOW CLONE + TIMESTAMP AS OF."""
    import shutil
    import time

    from ..sources.catalog import load_table
    from ..sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_append,
        snapshot_clone,
        snapshot_delete_range_mor,
        snapshot_read,
        snapshot_write,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_clone_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    src, dst = base / "src", base / "clone"
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    snapshot_write(o, src, stats_cols=["o_orderkey"], n_files=8)
    snapshot_delete_range_mor(spark, src, "o_orderkey", 3000, 3499)
    src_tip = current_version(src)
    src_manifest = _read_manifest(src, src_tip)
    snapshot_clone(src, dst)
    if any(True for d in (dst / "data").iterdir() for _ in d.iterdir()):
        raise RuntimeError("shallow clone copied data files")
    # manifests stamp round(ts, 3): clear the 0.5 ms rounding radius
    # before capturing, or the clone's own commit can postdate the mark
    time.sleep(0.002)
    t_pre_divergence = time.time()
    time.sleep(0.01)
    inherited = snapshot_read(spark, dst)
    batch = inherited.where(F.pmod("o_orderkey", F.lit(100)) < 5).select(
        "o_orderkey", (F.col("o_totalprice") + 100).alias("o_totalprice")
    )
    snapshot_append(batch, dst)
    if _read_manifest(src, current_version(src)) != src_manifest:
        raise RuntimeError("clone divergence mutated the source table")
    n_travel = snapshot_read(spark, dst, as_of_ts=t_pre_divergence).count()
    n_inherited = inherited.count()
    if n_travel != n_inherited:
        raise RuntimeError(
            f"timestamp travel on the clone saw {n_travel} rows, "
            f"expected the {n_inherited} inherited rows"
        )
    out = snapshot_read(spark, dst).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_price"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_mor_update_read",
    oracle="""
        SELECT o_orderkey AS order_id,
               CASE WHEN o_orderkey BETWEEN 4000 AND 4499
                    THEN o_totalprice + 25 ELSE o_totalprice
               END AS total_price
        FROM orders
    """,
    tags=("snapshot", "mor", "update"),
)
def snapshot_mor_update_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector UPDATE under the driver's hash gate: commit orders
    stats-partitioned on the key, MOR-update a key band (price+25) —
    positions join the vectors, updated images append, and a guard
    raises if any pre-update file left the manifest (the no-rewrite
    contract at file level). The oracle derives the updated state
    arithmetically from raw orders, so a lost DV (old rows resurrect as
    duplicates), a dropped updated image, or an off-band update all fail
    the hash. Delta-parity: DV-based UPDATE (the read side of
    photon-style MOR updates)."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_read,
        snapshot_update_range_mor,
        snapshot_write,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_morupd_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "table"
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    snapshot_write(o, t, stats_cols=["o_orderkey"], n_files=8)
    files_before = set(_read_manifest(t, current_version(t))["files"])
    snapshot_update_range_mor(
        spark, t, "o_orderkey", 4000, 4499,
        {"o_totalprice": F.col("o_totalprice") + 25},
    )
    if not files_before <= set(_read_manifest(t, current_version(t))["files"]):
        raise RuntimeError("MOR update rewrote or dropped a standing file")
    out = snapshot_read(spark, t).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_price"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_constraint_gate_read",
    oracle="""
        SELECT o_orderkey AS order_id, o_totalprice AS total_price
        FROM orders
        UNION ALL
        SELECT o_orderkey + 10000000, o_totalprice + 50
        FROM orders WHERE o_orderkey % 100 < 3
    """,
    tags=("snapshot", "constraints"),
)
def snapshot_constraint_gate_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table CHECK constraints under the driver's hash gate: commit
    orders, ADD CONSTRAINT total_price > 0 (validated against standing
    data), then attempt an append whose rows VIOLATE it — the fixture
    RAISES unless the violating batch is rejected with nothing committed
    — then append a satisfying derived batch and read back. The oracle
    derives the final state arithmetically: if the violating batch
    leaked in (enforcement missed a path) the extra rows fail the hash;
    if the valid batch was wrongly rejected the missing rows fail it.
    Delta-parity: ALTER TABLE ADD CONSTRAINT CHECK + write-path
    enforcement."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshots import (
        SnapshotConstraintViolation,
        current_version,
        snapshot_append,
        snapshot_read,
        snapshot_set_constraint,
        snapshot_write,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_cons_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "table"
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    snapshot_write(o, t)
    snapshot_set_constraint(spark, t, "price_positive", "o_totalprice > 0")
    v_before = current_version(t)
    violating = o.where(F.col("o_totalprice") > 0).limit(5).select(
        "o_orderkey", (F.col("o_totalprice") * -1).alias("o_totalprice")
    )
    violating_is_empty = violating.isEmpty()  # empty-lake sweep: vacuous
    try:
        snapshot_append(violating, t)
    except SnapshotConstraintViolation:
        pass
    else:
        if not violating_is_empty:
            raise RuntimeError(
                "violating batch was accepted by the constraint"
            )
    if not violating_is_empty and current_version(t) != v_before:
        raise RuntimeError("rejected batch still advanced the table version")
    valid = o.where(F.pmod("o_orderkey", F.lit(100)) < 3).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        (F.col("o_totalprice") + 50).alias("o_totalprice"),
    )
    snapshot_append(valid, t)
    out = snapshot_read(spark, t).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_price"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_type_widening_read",
    oracle="""
        SELECT CAST(o_orderkey AS BIGINT) AS order_id,
               CASE WHEN o_orderkey % 100 < 5
                        THEN CAST(CAST(o_orderkey AS REAL) AS DOUBLE)
                    WHEN o_orderkey % 100 < 50
                        THEN CAST(CAST(o_totalprice AS REAL) AS DOUBLE)
                    ELSE o_totalprice
               END AS total_price
        FROM orders
    """,
    tags=("snapshot", "type-widening"),
)
def snapshot_type_widening_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type widening under the driver's hash gate: commit an orders band
    as (int, float), append the complement as (long, double) — the
    manifest records the widened logical types, NO narrow file is
    rewritten — then upsert a NARROW (int, float) batch, which upcasts on
    write through the stats-pruned merge. The read surfaces one
    (bigint, double) schema across INT32/FLOAT and INT64/DOUBLE files
    (Spark 4's parquet widening promotion behind an explicit read
    schema). The oracle replays the same IEEE conversions on raw orders
    (float32 round-trips where the fixture stored float32), so a dropped
    cast, a rewritten file reading at the wrong width, or a widening map
    that fails to apply changes values and fails the hash. A guard raises
    if the widening commit rewrote the narrow band's files or the
    manifest lacks the recorded types."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_append,
        snapshot_read,
        snapshot_upsert,
        snapshot_write,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_widen_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "table"
    o = load_table(spark, sf_dir, "orders")
    band = F.pmod("o_orderkey", F.lit(100))
    narrow = o.where(band < 50).select(
        F.col("o_orderkey").cast("int").alias("o_orderkey"),
        F.col("o_totalprice").cast("float").alias("o_totalprice"),
    )
    snapshot_write(narrow, t, stats_cols=["o_orderkey"], n_files=4)
    m1 = _read_manifest(t, current_version(t))
    wide = o.where(band >= 50).select(
        "o_orderkey",
        F.col("o_totalprice").alias("o_totalprice"),
    )
    snapshot_append(wide, t)  # int->long, float->double: metadata only
    m2 = _read_manifest(t, current_version(t))
    if not set(m1["files"]) <= set(m2["files"]):
        raise RuntimeError("widening append rewrote the narrow band's files")
    if m2.get("types") != {"o_orderkey": "bigint", "o_totalprice": "double"}:
        raise RuntimeError(f"widened types not recorded: {m2.get('types')}")
    # NARROW upsert batch: updates band-0..4 keys' price to float32 of the
    # key; the merge upcasts it to the table's wide types on write
    upd = o.where(band < 5).select(
        F.col("o_orderkey").cast("int").alias("o_orderkey"),
        F.col("o_orderkey").cast("float").alias("o_totalprice"),
    )
    snapshot_upsert(spark, upd, t, ["o_orderkey"])
    out = snapshot_read(spark, t).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_price"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_zorder3_box_read",
    oracle="""
        SELECT l_orderkey AS order_id, l_partkey AS part_id,
               l_suppkey AS supplier_id, CAST(l_quantity AS INT) AS quantity
        FROM lineitem
        WHERE l_partkey BETWEEN 1 AND 60
          AND l_suppkey BETWEEN 1 AND 6
          AND l_quantity BETWEEN 10 AND 40
    """,
    tags=("snapshot", "zorder", "layout"),
)
def snapshot_zorder3_box_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE-column z-order under the driver's hash gate (Delta's
    OPTIMIZE ZORDER BY (c1, c2, c3)): lay lineitem out on the 3-D Morton
    curve over (l_partkey, l_suppkey, l_quantity) via
    snapshot_write(..., zorder_by=...), then answer a 3-predicate box query
    through snapshot_read(where=...), which lists only files whose manifest
    stats overlap ALL three ranges. A guard raises if the corner box
    fails to prune to a strict file subset (the layout's entire point).
    The oracle is the plain 3-predicate filter over raw lineitem, so
    pruning that loses a file's rows — an interleave slip in the N-dim
    code, a box intersection bug, a stats miss — fails the hash."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_read,
        snapshot_write,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_z3_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "table"
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        F.col("l_quantity").cast("int").alias("l_quantity"),
    )
    snapshot_write(
        l, t, zorder_by=["l_partkey", "l_suppkey", "l_quantity"], n_files=8
    )
    total = len(_read_manifest(t, current_version(t))["files"])
    out = snapshot_read(spark, t, where=[{
        "l_partkey": (1, 60), "l_suppkey": (1, 6), "l_quantity": (10, 40),
    }])
    admitted = len(out.inputFiles())
    if total >= 4 and admitted > total // 2:
        raise RuntimeError(
            f"3-D box read admits {admitted}/{total} files — "
            "N-dimensional pruning is not happening"
        )
    out = out.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_partkey").alias("part_id"),
        F.col("l_suppkey").alias("supplier_id"),
        F.col("l_quantity").alias("quantity"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_cdf_updates_read",
    oracle="""
        SELECT o_orderkey AS order_id, o_totalprice AS total_price,
               'update_preimage' AS change_type
        FROM orders WHERE o_orderkey BETWEEN 1000 AND 2999
        UNION ALL
        SELECT o_orderkey, o_totalprice + 1, 'update_postimage'
        FROM orders WHERE o_orderkey BETWEEN 1000 AND 2999
    """,
    tags=("snapshot", "cdf", "update"),
)
def snapshot_cdf_updates_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed UPDATE PAIRING under the driver's hash gate:
    commit orders range-split with stats, MOR-update a key band (+1 the
    price; deletion vectors grow, images append carrying the reserved
    row-provenance columns), then read the window's change feed with
    updates_as='updates' — every changed row must pair as
    update_preimage/update_postimage through the provenance join, with
    NO unpaired insert/delete rows. The oracle derives both images from
    raw orders, so a missed pair, a resurrected pre-deleted row, a
    provenance slip, or a leaked reserved column fails the hash. A guard
    raises if any row came back unpaired."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshots import (
        current_version,
        snapshot_change_feed,
        snapshot_update_range_mor,
        snapshot_write,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_cdfu_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "table"
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    snapshot_write(o, t, stats_cols=["o_orderkey"], n_files=6)
    v1 = current_version(t)
    snapshot_update_range_mor(
        spark, t, "o_orderkey", 1000, 2999,
        {"o_totalprice": F.col("o_totalprice") + 1},
    )
    cf = snapshot_change_feed(
        spark, t, v1, current_version(t), updates_as="updates"
    )
    out = cf.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_price"),
        F.col("_change_type").alias("change_type"),
    ).localCheckpoint(eager=True)  # same invalidation contract as above
    unpaired = out.where(~F.col("change_type").startswith("update_")).count()
    if unpaired:
        raise RuntimeError(
            f"{unpaired} window rows failed to pair as updates"
        )
    return out


@register(
    "snapshot_conditional_merge_read",
    oracle="""
        SELECT o_orderkey AS order_id,
               CASE WHEN o_orderkey % 100 >= 40 AND o_orderkey % 2 = 0
                    THEN o_totalprice + 5 ELSE o_totalprice
               END AS total_price,
               o_orderstatus AS order_status
        FROM orders
        WHERE o_orderkey % 100 < 50
          AND NOT (o_orderkey % 100 >= 40 AND o_orderkey % 2 = 1
                   AND o_orderkey % 3 = 0)
        UNION ALL
        SELECT o_orderkey, o_totalprice + 5, o_orderstatus
        FROM orders
        WHERE o_orderkey % 100 >= 50 AND o_orderkey % 100 < 60
          AND o_orderkey % 2 = 1
    """,
    tags=("snapshot", "merge", "conditional"),
)
def snapshot_conditional_merge_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional MERGE (Delta's WHEN-clause form) under the driver's
    hash gate, THROUGH the SQL surface: commit the orders band<50 subset
    as v1, then run a verbatim ``MERGE INTO`` statement with three
    conditional arms via SnapshotCatalog — matched evens UPDATE to the
    source price (+5), matched odd multiples of 3 DELETE, unmatched odds
    INSERT — and read the merged table back. The oracle derives the final
    state arithmetically from raw orders, so a clause-precedence slip
    (UPDATE must evaluate before DELETE), a condition evaluated over the
    wrong alias, a lost carry row, or a parser mis-route all fail the
    hash. Generalizes the reference's J1 staging merge
    (etl-s3-processed-to-redshift.py:66-96) to the conditional form."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources.snapshots import snapshot_read, snapshot_write

    base = Path(tempfile.gettempdir()) / (
        f"snap_cmerge_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "table"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    band = F.pmod("o_orderkey", F.lit(100))
    snapshot_write(
        o.where(band < 50), t, stats_cols=["o_orderkey"], n_files=6
    )
    o.where((band >= 40) & (band < 60)).select(
        "o_orderkey",
        (F.col("o_totalprice") + 5).alias("o_totalprice"),
        "o_orderstatus",
    ).createOrReplaceTempView("cmerge_src")
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE cmerge_target USING snapshot LOCATION '{t}'")
    cat.sql(
        "MERGE INTO cmerge_target t USING cmerge_src s "
        "ON t.o_orderkey = s.o_orderkey "
        "WHEN MATCHED AND s.o_orderkey % 2 = 0 "
        "THEN UPDATE SET o_totalprice = s.o_totalprice "
        "WHEN MATCHED AND s.o_orderkey % 3 = 0 THEN DELETE "
        "WHEN NOT MATCHED AND s.o_orderkey % 2 = 1 THEN INSERT *"
    )
    cat.drop_table("cmerge_target")
    out = snapshot_read(spark, t).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_price"),
        F.col("o_orderstatus").alias("order_status"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_predicate_dml_read",
    oracle="""
        SELECT o_orderkey AS order_id,
               CASE WHEN o_orderstatus = 'F' AND o_orderkey <= 1000
                    THEN o_totalprice + 2 ELSE o_totalprice
               END AS total_price,
               o_orderstatus AS order_status
        FROM orders
        WHERE o_orderkey % 10 <> 3 AND o_orderkey <> 42
    """,
    tags=("snapshot", "delete", "update", "predicate"),
)
def snapshot_predicate_dml_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-predicate DELETE/UPDATE under the driver's hash gate,
    THROUGH the SQL surface: commit orders with per-file key stats, then
    run three verbatim statements via SnapshotCatalog — a non-prunable
    modulo DELETE (full predicate scan, deletion vectors grow), a
    stats-PRUNED equality DELETE (`o_orderkey = 42` touches only files
    whose [min,max] admit 42), and a compound-predicate UPDATE
    (`status = 'F' AND key <= 1000`, MOR image append) — and read the
    final state. The oracle recomputes it arithmetically from raw
    orders, so a predicate mis-parse, a pruning slip that loses rows, a
    DV that drops the wrong positions, or an update image mismatch all
    fail the hash. (MOR byte-identical-carry and CoW-fallback behavior
    pinned in tests/test_snapshot_predicate_dml.py.)"""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources.snapshots import snapshot_read, snapshot_write

    base = Path(tempfile.gettempdir()) / (
        f"snap_pdml_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "table"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    snapshot_write(o, t, stats_cols=["o_orderkey"], n_files=6)
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE pdml_orders USING snapshot LOCATION '{t}'")
    cat.sql("DELETE FROM pdml_orders WHERE o_orderkey % 10 = 3")
    cat.sql("DELETE FROM pdml_orders WHERE o_orderkey = 42")
    cat.sql(
        "UPDATE pdml_orders SET o_totalprice = o_totalprice + 2 "
        "WHERE o_orderstatus = 'F' AND o_orderkey <= 1000"
    )
    cat.drop_table("pdml_orders")
    out = snapshot_read(spark, t).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_price"),
        F.col("o_orderstatus").alias("order_status"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_partition_evolution_read",
    oracle="""
        SELECT o_orderkey AS order_id, o_totalprice AS total_price,
               o_orderstatus AS order_status
        FROM orders
        WHERE o_orderkey % 100 < 80 AND o_orderstatus = 'F'
    """,
    tags=("snapshot", "partitioning", "evolution"),
)
def snapshot_partition_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION EVOLUTION under the driver's hash gate: commit an
    orders subset key-range-partitioned (stats on o_orderkey only), then
    evolve the table's partition spec to o_orderstatus as a
    metadata-only commit, append the remaining band (one file per status
    value with exact point stats, routed by the recorded spec), and
    answer a status-scoped query through the stats-pruned read — which
    must admit every PRE-evolution file conservatively (no status stats)
    while pruning POST-evolution files to the one matching status. The
    oracle recomputes the final state from raw orders, so an evolution
    commit that rewrites or loses files, an append that ignores the
    spec, or a prune that drops a conservative file all fail the hash. A
    guard raises if the post-evolution prune admitted more than the
    matching status file(s)."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_append,
        snapshot_files,
        snapshot_read,
        snapshot_set_partitioning,
        snapshot_write,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_pevo_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "table"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    band = F.pmod("o_orderkey", F.lit(100))
    snapshot_write(
        o.where(band < 60), t, stats_cols=["o_orderkey"], n_files=4
    )
    pre_files = set(_read_manifest(t, current_version(t))["files"])
    snapshot_set_partitioning(t, "o_orderstatus")
    snapshot_append(o.where((band >= 60) & (band < 80)), t)
    m = _read_manifest(t, current_version(t))
    post_files = set(m["files"]) - pre_files
    pruned = set(snapshot_files(t, [{"o_orderstatus": ("F", "F")}]))
    if not pre_files <= pruned:
        raise RuntimeError("conservative prune dropped a pre-evolution file")
    extra = {
        f for f in pruned & post_files
        # stats-less files (an empty-lake append writes rowless parquet)
        # are conservatively admitted — only a file whose recorded point
        # value is a DIFFERENT status is a pruning bug
        if "o_orderstatus" in m.get("stats", {}).get(f, {})
        and m["stats"][f]["o_orderstatus"][0] != "F"
    }
    if extra:
        raise RuntimeError(
            f"post-evolution prune admitted non-matching files: {extra}"
        )
    out = snapshot_read(
        spark, t, where=[{"o_orderstatus": ("F", "F")}]
    ).where(F.col("o_orderstatus") == "F").select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_price"),
        F.col("o_orderstatus").alias("order_status"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_bucketed_join_read",
    oracle="""
        SELECT c.c_custkey AS customer_id,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o.o_totalprice), 6) AS total_spend
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderkey % 100 < 50
        GROUP BY c.c_custkey
    """,
    tags=("snapshot", "bucketing", "join"),
)
def snapshot_bucketed_join_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed snapshot-to-snapshot join under the driver's hash gate:
    commit an orders subset and the customer table through
    snapshot_write(..., bucket_by=...) (8 buckets on the join key, spec in
    manifest), register both versions as external bucketed tables, and
    aggregate their merge-hinted equi-join. A guard RAISES if the
    physical plan contains any Exchange — the whole point of the layout
    is that both scans' bucket partitioning already satisfies the join,
    so at 100 TB the repeated fact-to-dim join costs zero shuffle. The
    oracle recomputes the aggregate from raw tables, so a bucket-routing
    slip (rows hashed to the wrong bucket would silently drop join
    matches) fails the hash, not just the plan check."""
    import io
    import shutil
    from contextlib import redirect_stdout

    from ..sources.catalog import load_table
    from ..sources.snapshots import (
        snapshot_bucketed_table,
        snapshot_write,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_bjoin_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).where(F.pmod("o_orderkey", F.lit(100)) < 50)
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    snapshot_write(o, base / "orders", bucket_by=("o_custkey", 8))
    snapshot_write(c, base / "customer", bucket_by=("c_custkey", 8))
    a = snapshot_bucketed_table(spark, base / "orders", "bjoin_orders")
    b = snapshot_bucketed_table(spark, base / "customer", "bjoin_customer")
    j = a.join(b.hint("merge"), a.o_custkey == b.c_custkey)
    buf = io.StringIO()
    with redirect_stdout(buf):
        j.explain("formatted")
    if "Exchange" in buf.getvalue():
        raise RuntimeError("bucketed snapshot join planned an Exchange")
    out = j.groupBy("c_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 6).alias("total_spend"),
    ).select(
        F.col("c_custkey").alias("customer_id"),
        "n_orders", "total_spend",
    )
    # same invalidation contract as the other fixture queries above
    # (materialize BEFORE dropping the catalog entries the plan reads)
    out = out.localCheckpoint(eager=True)
    spark.sql("DROP TABLE IF EXISTS bjoin_orders")
    spark.sql("DROP TABLE IF EXISTS bjoin_customer")
    return out


@register(
    "snapshot_txn_two_table_read",
    oracle="""
        WITH o AS (
            SELECT o_orderkey, o_custkey,
                   CASE WHEN o_orderkey % 100 BETWEEN 40 AND 49
                        THEN o_totalprice + 10 ELSE o_totalprice
                   END AS o_totalprice
            FROM orders WHERE o_orderkey % 100 < 50
        ),
        c AS (
            SELECT c_custkey, c_acctbal + 1 AS c_acctbal
            FROM customer
        )
        SELECT c.c_custkey AS customer_id,
               round(c.c_acctbal, 6) AS acct_balance,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o.o_totalprice), 6) AS total_spend
        FROM o JOIN c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_acctbal
    """,
    tags=("snapshot", "transaction"),
)
def snapshot_txn_two_table_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table TRANSACTIONS under the driver's hash gate, through
    the SQL surface: seed two snapshot tables, then inside ONE
    BEGIN/COMMIT run an UPDATE band on orders and an UPDATE on customer
    — verifying mid-transaction that read-your-own-writes sees both
    staged states while BOTH public pointers are still at their
    pre-transaction versions (a guard raises otherwise) — COMMIT, and
    emit the joined aggregate. The oracle derives the post-transaction
    state arithmetically, so a transaction that commits one table and
    not the other, leaks a pointer early, or loses a staged manifest
    fails the guard or the hash."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources.snapshots import snapshot_write

    base = Path(tempfile.gettempdir()) / (
        f"snap_txn_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    to, tc = base / "orders", base / "customer"
    band = F.pmod("o_orderkey", F.lit(100))
    snapshot_write(
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .where(band < 50),
        to, stats_cols=["o_orderkey"], n_files=4,
    )
    snapshot_write(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal"),
        tc, stats_cols=["c_custkey"], n_files=2,
    )
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE txn_orders USING snapshot LOCATION '{to}'")
    cat.sql(f"CREATE TABLE txn_customer USING snapshot LOCATION '{tc}'")
    cat.sql("BEGIN TRANSACTION")
    cat.sql(
        "UPDATE txn_orders SET o_totalprice = o_totalprice + 10 "
        "WHERE o_orderkey % 100 BETWEEN 40 AND 49"
    )
    cat.sql("UPDATE txn_customer SET c_acctbal = c_acctbal + 1 "
            "WHERE c_custkey >= 0")
    # read-your-own-writes must see both staged states...
    staged_max = cat.sql(
        "SELECT max(o_totalprice) AS m FROM txn_orders"
    ).first().m
    # ...while the PUBLIC pointers are untouched
    pub_o = int((to / "_latest").read_text().strip())
    pub_c = int((tc / "_latest").read_text().strip())
    if (pub_o, pub_c) != (1, 1):
        raise RuntimeError(
            f"transaction leaked a pointer early: {(pub_o, pub_c)}"
        )
    cat.sql("COMMIT")
    if int((to / "_latest").read_text().strip()) == 1:
        raise RuntimeError("COMMIT did not advance the orders pointer")
    del staged_max
    out = cat.sql("""
        SELECT c.c_custkey AS customer_id,
               round(c.c_acctbal, 6) AS acct_balance,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o.o_totalprice), 6) AS total_spend
        FROM txn_orders o JOIN txn_customer c
          ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_acctbal
    """)
    out = out.localCheckpoint(eager=True)
    cat.drop_table("txn_orders")
    cat.drop_table("txn_customer")
    return out


@register(
    "snapshot_cdc_mirror_read",
    oracle="""
        SELECT o_orderkey AS order_id,
               CASE WHEN o_orderkey % 100 BETWEEN 30 AND 39
                    THEN o_totalprice + 7 ELSE o_totalprice
               END AS total_price
        FROM orders
        WHERE o_orderkey % 100 < 60
          AND o_orderkey % 100 NOT BETWEEN 10 AND 14
    """,
    tags=("snapshot", "cdf", "merge", "replication"),
)
def snapshot_cdc_mirror_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC REPLICATION LOOP under the driver's hash gate — the
    composite of the two flagship features: commit an orders subset as a
    source table, clone its v1 as a replica, advance the SOURCE through
    three change shapes (predicate MOR UPDATE band +7, predicate MOR
    DELETE band, APPEND band), then read the source's change feed for
    the window and APPLY it to the replica with ONE conditional merge —
    postimages/inserts take the UPDATE/INSERT arms, delete records the
    DELETE arm (signaled by a NULL price sentinel so the change frame
    carries exactly the replica's columns). The replica must equal the
    source's final state, which the oracle derives arithmetically from
    raw orders: a change feed that loses a record, mis-pairs an update,
    or resurrects a deleted row — or a merge arm that misroutes a change
    type — fails the hash. Scale shape: the feed opens only CHANGED
    files; the apply is one stats-pruned merge sized by the change set,
    so mirroring a 100 TB table costs O(changes) per cycle, never a
    table scan."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshots import (
        current_version,
        snapshot_append,
        snapshot_change_feed,
        snapshot_clone,
        snapshot_delete_where,
        snapshot_merge,
        snapshot_read,
        snapshot_update_where,
        snapshot_write,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_cdcm_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    src_t, rep_t = base / "source", base / "replica"
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    band = F.pmod("o_orderkey", F.lit(100))
    snapshot_write(o.where(band < 50), src_t, stats_cols=["o_orderkey"], n_files=6)
    v1 = current_version(src_t)
    snapshot_clone(src_t, rep_t)
    # the source advances: update, delete, insert (the predicate DML
    # surface a CDC producer uses)
    snapshot_update_where(
        spark, src_t, "o_orderkey % 100 BETWEEN 30 AND 39",
        {"o_totalprice": "o_totalprice + 7"},
    )
    snapshot_delete_where(spark, src_t, "o_orderkey % 100 BETWEEN 10 AND 14")
    snapshot_append(o.where((band >= 50) & (band < 60)), src_t)
    # replicate: one change-feed read, one conditional merge
    cf = snapshot_change_feed(
        spark, src_t, v1, current_version(src_t), updates_as="updates"
    ).where(F.col("_change_type") != "update_preimage")
    changes = cf.select(
        "o_orderkey",
        F.when(
            F.col("_change_type") == "delete", F.lit(None)
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    snapshot_merge(
        spark, changes, rep_t, ["o_orderkey"],
        matched_update={"o_totalprice": "s.o_totalprice"},
        matched_update_condition="s.o_totalprice IS NOT NULL",
        matched_delete=True,
        matched_delete_condition="s.o_totalprice IS NULL",
        not_matched_insert=True,
        not_matched_condition="s.o_totalprice IS NOT NULL",
    )
    out = snapshot_read(spark, rep_t).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_price"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_time_travel_read",
    oracle="""
        SELECT o_orderkey AS order_id,
               o_totalprice AS price_v1,
               o_totalprice AS price_v1_ts,
               CASE WHEN o_orderkey BETWEEN 1 AND 2000
                    THEN o_totalprice + 7 ELSE o_totalprice
               END AS price_now
        FROM orders
        WHERE o_orderkey % 10 < 5
    """,
    tags=("snapshot", "time-travel", "catalog"),
)
def snapshot_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT-level time travel under the driver's hash gate: commit the
    orders band<5 subset as v1, capture a wall-clock instant, append the
    rest as v2, UPDATE a key range as v3 — then answer ONE verbatim SQL
    statement through SnapshotCatalog that three-way-joins ``VERSION AS
    OF 1``, ``TIMESTAMP AS OF <instant>`` (which must resolve to the
    same commit), and the live view. The oracle restates the pinned and
    current prices arithmetically from raw orders, so a rewrite that
    reads the wrong version, a timestamp resolution off by one commit,
    or a pinned view leaking post-append rows all fail the hash. Delta's
    most-used time-travel form (SELECT-level), no reference analog."""
    import json as _json
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources.snapshots import (
        _manifest_path,
        snapshot_append,
        snapshot_write,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_tt_{os.getpid()}_{path_tag(sf_dir)}"
    )
    t = base / "table"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    band = F.pmod("o_orderkey", F.lit(10))
    cat = SnapshotCatalog(spark)
    # the fence timestamp derives from the committed manifests' OWN ts
    # stamps (midpoint of v1/v2), never time.time() deltas: wall-clock
    # can step BACKWARDS between commits under NTP slew, and a fence
    # captured from the host clock then resolves to the wrong version
    # (the exact flake test_timestamp_time_travel deflaked). A same-ms
    # stamp collision (regressed clock) retries the whole build — the
    # stamps are the resolution's only authority, so the fence must
    # separate them.
    for _ in range(5):
        shutil.rmtree(base, ignore_errors=True)
        if "tt_orders" in cat._tables:
            cat.drop_table("tt_orders")
        snapshot_write(
            o.where(band < 5), t, stats_cols=["o_orderkey"], n_files=4
        )  # v1
        snapshot_append(o.where(band >= 5), t)  # v2
        cat.sql(f"CREATE TABLE tt_orders USING snapshot LOCATION '{t}'")
        cat.sql(
            "UPDATE tt_orders SET o_totalprice = o_totalprice + 7 "
            "WHERE o_orderkey BETWEEN 1 AND 2000"
        )  # v3
        ts1, ts2, ts3 = (
            _json.loads(_manifest_path(t, v).read_text())["ts"]
            for v in (1, 2, 3)
        )
        ts_after_v1 = (ts1 + ts2) / 2
        if ts1 <= ts_after_v1 < ts2 and ts_after_v1 < ts3:
            break
    out = cat.sql(
        "SELECT old.o_orderkey AS order_id, "
        "old.o_totalprice AS price_v1, "
        "oldts.o_totalprice AS price_v1_ts, "
        "cur.o_totalprice AS price_now "
        "FROM tt_orders VERSION AS OF 1 old "
        f"JOIN tt_orders TIMESTAMP AS OF {ts_after_v1!r} oldts "
        "ON old.o_orderkey = oldts.o_orderkey "
        "JOIN tt_orders cur ON old.o_orderkey = cur.o_orderkey"
    )
    cat.drop_table("tt_orders")
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_soft_delete_read",
    oracle="""
        SELECT o_orderkey AS order_id,
               CASE WHEN o_orderkey % 100 < 30 THEN o_totalprice + 3
                    ELSE o_totalprice END AS total_price,
               CASE WHEN o_orderkey % 100 >= 30 THEN 'Z'
                    ELSE o_orderstatus END AS order_status
        FROM orders
        WHERE o_orderkey % 100 < 55
    """,
    tags=("snapshot", "merge", "by-source", "soft-delete"),
)
def snapshot_soft_delete_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE's WHEN NOT MATCHED BY SOURCE THEN UPDATE SET arm (Delta's
    soft-delete flagging) under the driver's hash gate, THROUGH the SQL
    surface and in WRITTEN clause order: commit the orders band<60
    subset, then one verbatim MERGE whose source carries band<30 —
    matched rows take the source price (+3), unmatched rows in
    band>=55 DELETE (the written-first conditional arm), every other
    unmatched row soft-deletes to status 'Z' (the trailing
    unconditional UPDATE arm). The oracle restates the final state
    arithmetically from raw orders, so a BY SOURCE arm evaluated
    against the wrong row set, clause order inverted (a band>=55 row
    flagged instead of deleted), or a flag leaking onto matched rows
    all fail the hash."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources.snapshots import snapshot_read, snapshot_write

    base = Path(tempfile.gettempdir()) / (
        f"snap_sdel_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "table"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    band = F.pmod("o_orderkey", F.lit(100))
    snapshot_write(
        o.where(band < 60), t, stats_cols=["o_orderkey"], n_files=6
    )
    o.where(band < 30).select(
        "o_orderkey",
        (F.col("o_totalprice") + 3).alias("o_totalprice"),
        "o_orderstatus",
    ).createOrReplaceTempView("sdel_src")
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE sdel_target USING snapshot LOCATION '{t}'")
    cat.sql(
        "MERGE INTO sdel_target t USING sdel_src s "
        "ON t.o_orderkey = s.o_orderkey "
        "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice "
        "WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 100 >= 55 "
        "THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET o_orderstatus = 'Z'"
    )
    cat.drop_table("sdel_target")
    out = snapshot_read(spark, t).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_price"),
        F.col("o_orderstatus").alias("order_status"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_subquery_dml_read",
    oracle="""
        SELECT o.o_orderkey AS order_id,
               o.o_custkey AS cust_id,
               CASE WHEN EXISTS (
                        SELECT 1 FROM customer c
                        WHERE c.c_custkey = o.o_custkey
                          AND c.c_mktsegment = 'BUILDING'
                          AND c.c_acctbal >= 5000)
                    THEN o.o_totalprice + 5
                    ELSE o.o_totalprice END AS total_price
        FROM orders o
        WHERE NOT EXISTS (
            SELECT 1 FROM customer c
            WHERE c.c_custkey = o.o_custkey
              AND c.c_mktsegment = 'BUILDING' AND c.c_acctbal < 0)
    """,
    tags=("snapshot", "dml", "subquery", "catalog"),
)
def snapshot_subquery_dml_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subquery predicates in catalog DML under the driver's hash gate —
    the reference's staging-key delete shape
    (etl-s3-processed-to-redshift.py:73-79) as ONE SQL statement: commit
    orders and a BUILDING-segment customer staging table as snapshot
    tables, then DELETE every order whose customer is a negative-balance
    staging key (`o_custkey IN (SELECT ...)` — Spark plans the subquery
    as a distributed semi-join, and the key range's min/max prune which
    files grow DVs), then a correlated-EXISTS UPDATE bumps prices for
    orders of high-balance staging customers. The oracle restates the
    final state from raw orders+customer with NOT EXISTS/EXISTS, so a
    subquery evaluated against the wrong table state, NULL-semantics
    drift, or an update leaking onto deleted rows all fail the hash."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources.snapshots import snapshot_read, snapshot_write

    base = Path(tempfile.gettempdir()) / (
        f"snap_sqdml_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t, s = base / "orders", base / "stage"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    snapshot_write(o, t, stats_cols=["o_custkey"], n_files=6)
    stage = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_acctbal")
    )
    snapshot_write(stage, s, stats_cols=["c_custkey"], n_files=2)
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE sq_orders USING snapshot LOCATION '{t}'")
    cat.sql(f"CREATE TABLE sq_stage USING snapshot LOCATION '{s}'")
    cat.sql(
        "DELETE FROM sq_orders WHERE o_custkey IN "
        "(SELECT c_custkey FROM sq_stage WHERE c_acctbal < 0)"
    )
    cat.sql(
        "UPDATE sq_orders SET o_totalprice = o_totalprice + 5 "
        "WHERE EXISTS (SELECT 1 FROM sq_stage s "
        "WHERE s.c_custkey = o_custkey AND s.c_acctbal >= 5000)"
    )
    cat.drop_table("sq_orders")
    cat.drop_table("sq_stage")
    out = snapshot_read(spark, t).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("cust_id"),
        F.col("o_totalprice").alias("total_price"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_replace_where_read",
    oracle="""
        SELECT o_orderkey AS order_id,
               CASE WHEN o_orderkey BETWEEN 1 AND 3000
                    THEN o_totalprice + 11
                    ELSE o_totalprice END AS total_price,
               o_orderstatus AS order_status
        FROM orders
    """,
    tags=("snapshot", "replace-where", "overwrite", "catalog"),
)
def snapshot_replace_where_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT INTO ... REPLACE WHERE under the driver's hash gate: commit
    all orders key-clustered, then ONE verbatim SQL statement swaps the
    o_orderkey 1..3000 region for re-priced rows (+11). The engine drops
    region-interior files from stats alone (zero-null containment),
    anti-rewrites the boundary file, appends the replacement — one
    atomic commit. The oracle restates the final state from raw orders,
    so a region boundary off by one row, a replacement row lost with a
    dropped file, or an untouched row leaking a price change all fail
    the hash. Delta's replaceWhere (the reference's date-scoped re-load
    shape, glue_jobs/dynamic-data-processor.py overwrite mode)."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources.snapshots import snapshot_read, snapshot_write

    base = Path(tempfile.gettempdir()) / (
        f"snap_rw_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "table"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    snapshot_write(o, t, stats_cols=["o_orderkey"], n_files=8)
    o.createOrReplaceTempView("rw_src")
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE rw_orders USING snapshot LOCATION '{t}'")
    cat.sql(
        "INSERT INTO rw_orders REPLACE WHERE o_orderkey BETWEEN 1 AND 3000 "
        "SELECT o_orderkey, o_totalprice + 11 AS o_totalprice, "
        "o_orderstatus FROM rw_src WHERE o_orderkey BETWEEN 1 AND 3000"
    )
    cat.drop_table("rw_orders")
    out = snapshot_read(spark, t).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_price"),
        F.col("o_orderstatus").alias("order_status"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_multicol_partition_read",
    oracle="""
        SELECT o_orderkey AS order_id, o_totalprice AS total_price
        FROM orders
        WHERE o_orderkey % 100 < 80 AND o_orderstatus = 'F'
          AND o_orderkey % 4 = 1
    """,
    tags=("snapshot", "partitioning", "multi-column"),
)
def snapshot_multicol_partition_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-COLUMN partition specs under the driver's hash gate: commit
    the orders band<50 subset key-partitioned, evolve the spec to
    (o_orderstatus, o_band) through verbatim DDL, append the 50..79 band
    (one file per value TUPLE, point stats on BOTH spec columns), and
    answer a two-predicate query through the stats-pruned read. A guard
    raises unless the conjunctive value prune (one region disjunct
    bounding both columns) admits every pre-evolution file
    conservatively and, among post-evolution files, ONLY those whose recorded points match both
    predicates — the Hive/Iceberg (date, region) layout contract. The
    oracle recomputes the final state from raw orders."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_append,
        snapshot_files,
        snapshot_read,
        snapshot_write,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_mcp_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "table"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus",
        F.pmod("o_orderkey", F.lit(4)).cast("int").alias("o_band"),
    )
    band = F.pmod("o_orderkey", F.lit(100))
    snapshot_write(
        o.where(band < 50), t, stats_cols=["o_orderkey"], n_files=4
    )
    pre = set(_read_manifest(t, current_version(t))["files"])
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE mcp_orders USING snapshot LOCATION '{t}'")
    cat.sql("ALTER TABLE mcp_orders SET PARTITIONED BY (o_orderstatus, o_band)")
    cat.drop_table("mcp_orders")
    snapshot_append(o.where((band >= 50) & (band < 80)), t)
    m = _read_manifest(t, current_version(t))
    post = set(m["files"]) - pre
    fs = set(snapshot_files(
        t, [{"o_orderstatus": ("F", "F"), "o_band": (1, 1)}]
    ))
    if not pre <= fs:
        raise RuntimeError("conservative prune dropped a pre-evolution file")
    bad = {
        f for f in fs & post
        if "o_orderstatus" in m.get("stats", {}).get(f, {})
        and "o_band" in m["stats"][f]
        and not (
            m["stats"][f]["o_orderstatus"][0] == "F"
            and m["stats"][f]["o_band"][0] == 1
        )
    }
    if bad:
        raise RuntimeError(
            f"tuple prune admitted non-matching post-evolution files: {bad}"
        )
    out = snapshot_read(
        spark, t, where=[{"o_orderstatus": ("F", "F")}]
    ).where(
        (F.col("o_orderstatus") == "F") & (F.col("o_band") == 1)
    ).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_price"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_schema_ddl_read",
    oracle="""
        SELECT o_orderkey AS order_id, o_totalprice AS price,
               CASE WHEN o_orderkey % 100 >= 40 THEN 'late'
                    ELSE NULL END AS band_tag
        FROM orders
        WHERE o_orderkey % 100 < 60
    """,
    tags=("snapshot", "ddl", "schema-evolution"),
)
def snapshot_schema_ddl_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution DDL under the driver's hash gate, THROUGH the
    SQL surface: commit the orders band<40 subset, ADD COLUMN band_tag
    (old rows read as typed NULLs), INSERT the 40..59 band carrying the
    new column, ADD + DROP a decoy column (its id retires — a later
    re-add cannot resurrect bytes; pinned in
    tests/test_snapshot_catalog.py), RENAME o_totalprice TO price, and
    read the final state by the NEW names. All four statements are
    O(columns) metadata commits — no data file rewrites (the files are
    byte-identical; only the INSERT added any). The oracle restates the
    final state from raw orders, so a rename that moves data, an added
    column backfilled wrong, or a drop that loses sibling columns all
    fail the hash."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources.snapshots import snapshot_read, snapshot_write

    base = Path(tempfile.gettempdir()) / (
        f"snap_sddl_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "table"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    band = F.pmod("o_orderkey", F.lit(100))
    snapshot_write(
        o.where(band < 40), t, stats_cols=["o_orderkey"], n_files=4
    )
    o.where((band >= 40) & (band < 60)).createOrReplaceTempView("sddl_src")
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE sddl_orders USING snapshot LOCATION '{t}'")
    cat.sql("ALTER TABLE sddl_orders ADD COLUMN band_tag string")
    cat.sql(
        "INSERT INTO sddl_orders SELECT o_orderkey, o_totalprice, "
        "'late' AS band_tag FROM sddl_src"
    )
    cat.sql("ALTER TABLE sddl_orders ADD COLUMN decoy int")
    cat.sql("ALTER TABLE sddl_orders DROP COLUMN decoy")
    cat.sql("ALTER TABLE sddl_orders RENAME COLUMN o_totalprice TO price")
    cat.drop_table("sddl_orders")
    out = snapshot_read(spark, t).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("price"),
        F.col("band_tag"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_or_pruning_read",
    oracle="""
        SELECT o_orderkey AS order_id, o_totalprice AS total_price
        FROM orders
        WHERE NOT (o_orderkey BETWEEN 100 AND 299
                   OR o_orderkey BETWEEN 900 AND 1099)
    """,
    tags=("snapshot", "delete", "or-pruning"),
)
def snapshot_or_pruning_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-ranges file pruning under the driver's hash gate: commit
    orders with per-file key stats, DELETE a disjunction of two disjoint
    key ranges through verbatim SQL, and read the final state. A guard
    raises unless the predicate's file set was a STRICT subset of the
    live files (the union-of-disjunct-regions prune actually pruned) —
    while the oracle recomputes the surviving rows, so pruning that
    loses a file's rows or a disjunct applied as a conjunction fails
    the hash."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_files,
        snapshot_read,
        snapshot_write,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_orp_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "table"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    snapshot_write(o, t, stats_cols=["o_orderkey"], n_files=6)
    pred = (
        "o_orderkey BETWEEN 100 AND 299 OR o_orderkey BETWEEN 900 AND 1099"
    )
    live = _read_manifest(t, current_version(t))["files"]
    touched = snapshot_files(t, pred)
    # the strict-subset guard needs enough files to prune between — an
    # empty/tiny lake (the empty-corpus sweep) collapses to 1-2 files
    # whose ranges legitimately cover both disjuncts
    if len(live) >= 4 and len(touched) >= len(live):
        raise RuntimeError(
            "OR-of-ranges predicate did not prune the file set "
            f"({len(touched)}/{len(live)})"
        )
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE orp_orders USING snapshot LOCATION '{t}'")
    cat.sql(f"DELETE FROM orp_orders WHERE {pred}")
    cat.drop_table("orp_orders")
    out = snapshot_read(spark, t).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_price"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_ctas_read",
    oracle="""
        SELECT o_orderkey AS order_id, o_totalprice AS total_price
        FROM orders
        WHERE o_orderkey % 100 < 50 AND o_orderkey % 2 = 0
    """,
    tags=("snapshot", "ctas", "time-travel"),
)
def snapshot_ctas_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTAS from a TIME-TRAVELED source under the driver's hash gate:
    commit the orders band<50 subset as v1 of a source table, append
    the rest as v2, then run a verbatim ``CREATE TABLE ... USING
    snapshot LOCATION ... AS SELECT ... FROM src VERSION AS OF 1``
    filtering to even keys — the new table must hold exactly v1's even
    keys, immune to the v2 append. The oracle restates that set from
    raw orders, so a CTAS reading the wrong version, a rewrite that
    leaks post-pin rows, or a mis-registered result table all fail the
    hash."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources.snapshots import (
        snapshot_append,
        snapshot_read,
        snapshot_write,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_ctas_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    src_t, dst_t = base / "src", base / "dst"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    band = F.pmod("o_orderkey", F.lit(100))
    snapshot_write(
        o.where(band < 50), src_t, stats_cols=["o_orderkey"], n_files=4
    )  # v1
    snapshot_append(o.where(band >= 50), src_t)  # v2
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE ctas_src USING snapshot LOCATION '{src_t}'")
    cat.sql(
        f"CREATE TABLE ctas_dst USING snapshot LOCATION '{dst_t}' "
        "AS SELECT o_orderkey, o_totalprice "
        "FROM ctas_src VERSION AS OF 1 WHERE o_orderkey % 2 = 0"
    )
    cat.drop_table("ctas_src")
    cat.drop_table("ctas_dst")
    out = snapshot_read(spark, dst_t).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_price"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_mirror_loop_read",
    oracle="""
        SELECT o_orderkey AS order_id,
               CASE WHEN o_orderkey % 100 < 10 THEN o_totalprice + 2
                    WHEN o_orderkey % 100 BETWEEN 45 AND 49
                    THEN o_totalprice + 3
                    ELSE o_totalprice END AS total_price
        FROM orders
        WHERE o_orderkey % 100 < 50
          AND o_orderkey % 100 NOT BETWEEN 20 AND 29
    """,
    tags=("snapshot", "cdf", "replication", "streaming"),
)
def snapshot_mirror_loop_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONTINUOUS CDC replication loop under the driver's hash gate
    (the cycle-based twin of snapshot_cdc_mirror_read's one-shot apply):
    clone the orders band<40 subset, advance the source through TWO
    change windows (update + append, then delete + update OF the rows
    the first window inserted), and run snapshot_mirror_cycle after
    each — progress rides the replica's transaction map, so cycle 2
    must resume exactly where cycle 1 stamped (re-applying window 1
    would double the +2 update and resurrect deleted rows; skipping
    window 2 would miss the cross-window update). The replica's final
    state is the oracle, restated arithmetically from raw orders.
    Crash-replay behavior of the same loop is pinned in
    tests/test_streaming.py."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshots import (
        current_version,
        snapshot_append,
        snapshot_clone,
        snapshot_delete_where,
        snapshot_read,
        snapshot_update_where,
        snapshot_write,
    )
    from ..streaming.pipeline import snapshot_mirror_cycle

    base = Path(tempfile.gettempdir()) / (
        f"snap_mloop_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    src_t, rep_t = base / "source", base / "replica"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    band = F.pmod("o_orderkey", F.lit(100))
    snapshot_write(
        o.where(band < 40), src_t, stats_cols=["o_orderkey"], n_files=6
    )
    boot = current_version(src_t)
    snapshot_clone(src_t, rep_t)
    # window 1: update + insert
    snapshot_update_where(
        spark, src_t, "o_orderkey % 100 < 10",
        {"o_totalprice": "o_totalprice + 2"},
    )
    snapshot_append(o.where((band >= 40) & (band < 50)), src_t)
    snapshot_mirror_cycle(
        spark, src_t, rep_t, ["o_orderkey"], initial_version=boot
    )
    # window 2: delete + update of window-1 inserts
    snapshot_delete_where(
        spark, src_t, "o_orderkey % 100 BETWEEN 20 AND 29"
    )
    snapshot_update_where(
        spark, src_t, "o_orderkey % 100 BETWEEN 45 AND 49",
        {"o_totalprice": "o_totalprice + 3"},
    )
    snapshot_mirror_cycle(
        spark, src_t, rep_t, ["o_orderkey"], initial_version=boot
    )
    out = snapshot_read(spark, rep_t).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_price"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_copy_into_read",
    oracle="""
        SELECT o_orderkey AS order_id, o_totalprice AS total_price
        FROM orders
        WHERE o_orderkey % 100 < 70
    """,
    tags=("snapshot", "ingest", "copy-into"),
)
def snapshot_copy_into_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY INTO's file-granular idempotence under the driver's hash
    gate — the snapshot-native form of the reference's landing->raw
    flow (lambda/ingestion_to_raw.py routes each arriving S3 object
    once): stage the orders band<70 subset as parquet files in a
    landing directory, COPY INTO an empty-seeded table, RERUN the same
    statement (must be a version-level no-op), drop one more landing
    file and run again (only IT loads). The oracle restates the final
    content from raw orders, so a double-ingested file (duplicated
    rows), a skipped new file, or a ledger that survives only in
    side-state all fail the hash."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources.snapshots import (
        current_version,
        snapshot_read,
        snapshot_write,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_cpi_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    land, t = base / "landing", base / "table"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    band = F.pmod("o_orderkey", F.lit(100))
    o.where(band < 60).repartition(4).write.parquet(str(land))
    snapshot_write(
        o.where(band < 0), t, stats_cols=["o_orderkey"], n_files=1
    )  # empty-seeded table fixes the schema
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE cpi_orders USING snapshot LOCATION '{t}'")
    cat.sql(f"COPY INTO cpi_orders FROM '{land}/*.parquet' "
            "FILEFORMAT = parquet")
    v1 = current_version(t)
    # idempotent rerun: same files, no new version
    cat.sql(f"COPY INTO cpi_orders FROM '{land}/*.parquet' "
            "FILEFORMAT = parquet")
    if current_version(t) != v1:
        raise RuntimeError("COPY INTO rerun re-ingested already-loaded files")
    # a late-arriving file loads alone
    o.where((band >= 60) & (band < 70)).coalesce(1).write.mode(
        "append"
    ).parquet(str(land))
    cat.sql(f"COPY INTO cpi_orders FROM '{land}/*.parquet' "
            "FILEFORMAT = parquet")
    cat.drop_table("cpi_orders")
    out = snapshot_read(spark, t).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_price"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_purge_read",
    oracle="""
        SELECT o_orderkey AS order_id, o_totalprice AS total_price
        FROM orders
        WHERE o_orderkey % 10 NOT IN (3, 7)
    """,
    tags=("snapshot", "reorg", "purge", "dv"),
)
def snapshot_purge_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector compaction (REORG APPLY (PURGE)) under the
    driver's hash gate: commit orders, grow deletion vectors with two
    modulo DELETEs (non-prunable — every file gets vectors), REORG, and
    read the purged table. Guards raise unless the post-purge manifest
    is vector-FREE and the purge added exactly one commit; the oracle
    recomputes the surviving rows, so a purge that resurrects
    soft-deleted rows, drops live rows, or misapplies a vector during
    the rewrite fails the hash. (Byte-identity of clean files under a
    partial-DV purge is pinned in tests/test_snapshots.py.)"""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_read,
        snapshot_write,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_purge_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "table"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    snapshot_write(o, t, stats_cols=["o_orderkey"], n_files=6)
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE purge_orders USING snapshot LOCATION '{t}'")
    cat.sql("DELETE FROM purge_orders WHERE o_orderkey % 10 = 3")
    cat.sql("DELETE FROM purge_orders WHERE o_orderkey % 10 = 7")
    v_pre = current_version(t)
    had_dv = bool(_read_manifest(t, v_pre).get("dv"))
    cat.sql("REORG TABLE purge_orders APPLY (PURGE)")
    cat.drop_table("purge_orders")
    # vector-free tables (the empty-corpus sweep: the DELETEs match no
    # rows) purge as a version-level no-op; otherwise exactly one commit
    if current_version(t) != v_pre + (1 if had_dv else 0):
        raise RuntimeError("purge must be exactly one commit")
    if _read_manifest(t, current_version(t)).get("dv"):
        raise RuntimeError("purge left deletion vectors behind")
    out = snapshot_read(spark, t).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_price"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_analyze_read",
    oracle="""
        SELECT o_orderkey AS order_id, o_totalprice AS total_price
        FROM orders
        WHERE o_orderkey BETWEEN 500 AND 1500 AND o_orderkey % 3 = 0
    """,
    tags=("snapshot", "analyze", "stats", "pruning"),
)
def snapshot_analyze_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats backfill (ANALYZE TABLE) under the driver's hash gate:
    CTAS a stats-less derived table (key-thirds filter), verify the
    range prune is CONSERVATIVE (all files admitted), ANALYZE, then
    answer a key-range query through the now-pruned read — a guard
    raises unless the post-ANALYZE prune admitted a strict subset. The
    oracle recomputes the rows from raw orders, so backfilled stats
    that mis-bound a file (losing rows to pruning) fail the hash, not
    just the guard."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_files,
        snapshot_read,
        snapshot_write,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_anl_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    src_t, dst_t = base / "src", base / "dst"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    snapshot_write(o, src_t, stats_cols=["o_orderkey"], n_files=6)
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE anl_src USING snapshot LOCATION '{src_t}'")
    cat.sql(
        f"CREATE TABLE anl_dst USING snapshot LOCATION '{dst_t}' "
        "AS SELECT o_orderkey, o_totalprice FROM anl_src "
        "WHERE o_orderkey % 3 = 0"
    )
    n_live = len(_read_manifest(dst_t, current_version(dst_t))["files"])
    if len(snapshot_files(dst_t, [{"o_orderkey": (500, 1500)}])) != n_live:
        raise RuntimeError("stats-less table must admit every file")
    cat.sql(
        "ANALYZE TABLE anl_dst COMPUTE STATISTICS FOR COLUMNS (o_orderkey)"
    )
    cat.drop_table("anl_src")
    cat.drop_table("anl_dst")
    pruned = snapshot_files(dst_t, [{"o_orderkey": (500, 1500)}])
    if n_live >= 4 and len(pruned) >= n_live:
        raise RuntimeError(
            f"ANALYZE did not enable pruning ({len(pruned)}/{n_live})"
        )
    out = snapshot_read(
        spark, dst_t, where=[{"o_orderkey": (500, 1500)}]
    ).where(F.col("o_orderkey").between(500, 1500)).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_price"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_schema_evolution_merge_read",
    oracle="""
        SELECT o_orderkey AS order_id,
               CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 1
                    ELSE o_totalprice END AS total_price,
               CASE WHEN o_orderkey % 2 = 0
                    THEN CAST(o_custkey % 5 AS BIGINT) END AS seg
        FROM orders
        WHERE o_orderkey % 3 <> 0 OR o_orderkey % 2 = 0
    """,
    tags=("snapshot", "merge", "schema-evolution", "catalog"),
)
def snapshot_schema_evolution_merge_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGE WITH SCHEMA EVOLUTION under the driver's hash gate: commit
    a two-column orders subset (keys with o_orderkey % 3 <> 0) as a
    snapshot table, then ONE verbatim MERGE statement whose source
    carries an extra `seg` column — the column auto-adds as metadata
    (old files untouched, read as typed NULLs), matched rows re-price
    and take the source's seg, unmatched source rows insert full-width.
    The oracle restates the final state from raw orders, so an evolution
    that rewrites data, a NULL leaking onto a matched row, or a new
    column dropped from inserts all fail the hash. Delta's
    `MERGE WITH SCHEMA EVOLUTION` / autoMerge semantics."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources.snapshots import snapshot_read, snapshot_write

    base = Path(tempfile.gettempdir()) / (
        f"snap_sev_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "orders"
    o = load_table(spark, sf_dir, "orders")
    snapshot_write(
        o.where(F.col("o_orderkey") % 3 != 0)
        .select("o_orderkey", "o_totalprice"),
        t, stats_cols=["o_orderkey"], n_files=4,
    )
    o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + 1).alias("o_totalprice"),
        (F.col("o_custkey") % 5).alias("seg"),
    ).createOrReplaceTempView("sev_src")
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE sev_orders USING snapshot LOCATION '{t}'")
    cat.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO sev_orders t USING sev_src s "
        "ON t.o_orderkey = s.o_orderkey "
        "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice, "
        "seg = s.seg "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    cat.drop_table("sev_orders")
    out = snapshot_read(spark, t).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_price"),
        F.col("seg"),
    )
    # same invalidation contract as the other fixture queries above
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_defaults_read",
    oracle="""
        SELECT c_custkey AS cust_id,
               c_acctbal AS balance,
               CASE WHEN c_custkey % 2 = 0 THEN 'unknown'
                    ELSE c_mktsegment END AS segment
        FROM customer
    """,
    tags=("snapshot", "ddl", "defaults", "catalog"),
)
def snapshot_defaults_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empty-table DDL + column DEFAULT backfill under the driver's hash
    gate: CREATE TABLE (cols) USING snapshot commits a schema-only v1;
    even customers insert at the two-column width; ALTER TABLE ADD
    COLUMN segment string DEFAULT 'unknown' is a metadata-only commit;
    odd customers then insert full-width with their real segment. The
    read must surface 'unknown' (not NULL) for every pre-add row and
    the stored segment for post-add rows — Iceberg's initial+write-
    default semantics, per-FILE. The oracle restates the final state
    from raw customer, so a default applied to the wrong generation,
    a NULL backfill, or a data rewrite all fail the hash."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources.snapshots import snapshot_read

    base = Path(tempfile.gettempdir()) / (
        f"snap_dflt_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "cust"
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "dflt_raw_customer"
    )
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE dflt_cust (cust_id bigint, balance double) "
        f"USING snapshot LOCATION '{t}'"
    )
    cat.sql(
        "INSERT INTO dflt_cust "
        "SELECT c_custkey AS cust_id, c_acctbal AS balance "
        "FROM dflt_raw_customer WHERE c_custkey % 2 = 0"
    )
    cat.sql(
        "ALTER TABLE dflt_cust ADD COLUMN segment string DEFAULT 'unknown'"
    )
    cat.sql(
        "INSERT INTO dflt_cust "
        "SELECT c_custkey, c_acctbal, c_mktsegment "
        "FROM dflt_raw_customer WHERE c_custkey % 2 = 1"
    )
    cat.drop_table("dflt_cust")
    out = snapshot_read(spark, t).select("cust_id", "balance", "segment")
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_generated_partition_read",
    oracle="""
        SELECT o_orderkey AS order_id,
               o_totalprice AS total_price,
               CAST(o_custkey % 4 AS BIGINT) AS shard
        FROM orders
    """,
    tags=("snapshot", "ddl", "generated", "catalog"),
)
def snapshot_generated_partition_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GENERATED ALWAYS AS columns under the driver's hash gate: an
    empty-DDL table declares shard = o_custkey % 4, is partitioned BY
    the generated column, then orders insert in two narrow batches that
    OMIT the column — every row's shard must compute at write time and
    route the partitioned layout (Delta's generated-column +
    date-partition pattern). The oracle restates the expression from raw
    orders, so a skipped computation (NULL shard), a wrong expression,
    or a partition-routing bug that drops rows all fail the hash."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources.snapshots import snapshot_read

    base = Path(tempfile.gettempdir()) / (
        f"snap_gen_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "orders"
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "gen_raw_orders"
    )
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE gen_orders (order_id bigint, cust_id bigint, "
        f"total_price double, "
        f"shard bigint GENERATED ALWAYS AS (cust_id % 4)) "
        f"USING snapshot LOCATION '{t}'"
    )
    cat.sql("ALTER TABLE gen_orders SET PARTITIONED BY (shard)")
    # narrow batches (no shard): the generated expression computes it
    cat.sql(
        "INSERT INTO gen_orders "
        "SELECT o_orderkey AS order_id, o_custkey AS cust_id, "
        "o_totalprice AS total_price FROM gen_raw_orders "
        "WHERE o_orderkey % 2 = 0"
    )
    cat.sql(
        "INSERT INTO gen_orders "
        "SELECT o_orderkey AS order_id, o_custkey AS cust_id, "
        "o_totalprice AS total_price FROM gen_raw_orders "
        "WHERE o_orderkey % 2 = 1"
    )
    cat.drop_table("gen_orders")
    out = snapshot_read(spark, t).select(
        "order_id", "total_price", "shard"
    )
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_table_changes_read",
    headline=True,
    oracle="""
        SELECT o_orderkey AS order_id,
               'delete' AS change_type,
               o_totalprice AS total_price
        FROM orders WHERE o_custkey % 7 = 0
        UNION ALL
        SELECT o_orderkey AS order_id,
               'insert' AS change_type,
               o_totalprice + 3 AS total_price
        FROM orders WHERE o_orderkey % 5 = 0
    """,
    tags=("snapshot", "cdf", "table-changes", "catalog"),
)
def snapshot_table_changes_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch CDF as SQL under the driver's hash gate: commit orders,
    DELETE the %7 customers' orders (grows deletion vectors), INSERT
    re-priced rows for %5 orderkeys, then ONE verbatim
    `SELECT ... FROM table_changes('t', 1)` statement must return
    exactly the net changes with their _change_type — deletes with the
    ORIGINAL price, inserts with the new one. OPTIMIZE ... WHERE then
    rewrites part of the table and the SAME window must return the SAME
    net changes (carried rows cancel; compaction is change-invisible).
    The oracle restates the expected change set from raw orders."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources.snapshots import snapshot_write

    base = Path(tempfile.gettempdir()) / (
        f"snap_tc_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "orders"
    o = load_table(spark, sf_dir, "orders")
    snapshot_write(
        o.select("o_orderkey", "o_custkey", "o_totalprice"),
        t, stats_cols=["o_orderkey"], n_files=4,
    )  # v1
    o.createOrReplaceTempView("tc_raw_orders")
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE tc_orders USING snapshot LOCATION '{t}'")
    cat.sql("DELETE FROM tc_orders WHERE o_custkey % 7 = 0")      # v2
    cat.sql(
        "INSERT INTO tc_orders "
        "SELECT o_orderkey, o_custkey, o_totalprice + 3 "
        "FROM tc_raw_orders WHERE o_orderkey % 5 = 0"
    )                                                              # v3
    # compaction between the window's endpoints must be invisible to
    # the NET feed (carried rows cancel)
    cat.sql("OPTIMIZE tc_orders WHERE o_orderkey >= 0 INTO 2 FILES")  # v4
    out = cat.sql(
        "SELECT o_orderkey AS order_id, "
        "_change_type AS change_type, "
        "o_totalprice AS total_price "
        "FROM table_changes('tc_orders', 1) "
        "WHERE _change_type IN ('insert', 'delete')"
    )
    out = out.localCheckpoint(eager=True)
    cat.drop_table("tc_orders")
    return out


@register(
    "snapshot_identity_read",
    oracle="""
        WITH e AS (
            SELECT c_custkey, c_acctbal,
                   row_number() OVER (ORDER BY c_custkey) AS rn
            FROM customer WHERE c_custkey % 2 = 0
        ), o AS (
            SELECT c_custkey, c_acctbal,
                   row_number() OVER (ORDER BY c_custkey) AS rn
            FROM customer WHERE c_custkey % 2 = 1
        ), both_gens AS (
            SELECT CAST(100 + (rn - 1) * 3 AS BIGINT) AS row_id,
                   c_custkey, c_acctbal
            FROM e
            UNION ALL
            SELECT CAST(100 + ((SELECT count(*) FROM e) + rn - 1) * 3
                        AS BIGINT) AS row_id,
                   c_custkey, c_acctbal
            FROM o
        )
        SELECT row_id,
               c_custkey AS cust_id,
               CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 10
                    ELSE c_acctbal END AS balance
        FROM both_gens
    """,
    tags=("snapshot", "ddl", "identity", "catalog"),
)
def snapshot_identity_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED ALWAYS AS IDENTITY under the driver's hash gate: an
    empty-DDL table declares row_id IDENTITY (START WITH 100 INCREMENT
    BY 3); two sorted narrow batches insert (even customers, then odd),
    so the per-commit high-water mark must hand the second batch the
    range right after the first; an UPDATE then reprices some rows —
    their identity values must CARRY through the update image, not
    reallocate. The oracle reconstructs the exact expected ids with
    row_number over each sorted batch, so a wrong start/step, a
    high-water mark that fails to advance, reallocated ids on update,
    or duplicate allocation across batches all fail the hash.
    Determinism: each INSERT's SELECT is globally ORDER BY'd — Spark's
    range-partitioned sort makes partition index follow sort order, and
    the allocator assigns offsets in partition-index order (Delta's
    identity contract itself only promises uniqueness on the
    start + i*step grid)."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources.snapshots import snapshot_read

    base = Path(tempfile.gettempdir()) / (
        f"snap_ident_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "cust"
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "ident_raw_customer"
    )
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE ident_cust ("
        f"row_id bigint GENERATED ALWAYS AS IDENTITY "
        f"(START WITH 100 INCREMENT BY 3), "
        f"cust_id bigint, balance double) "
        f"USING snapshot LOCATION '{t}'"
    )
    cat.sql(
        "INSERT INTO ident_cust (cust_id, balance) "
        "SELECT c_custkey, c_acctbal FROM ident_raw_customer "
        "WHERE c_custkey % 2 = 0 ORDER BY c_custkey"
    )
    cat.sql(
        "INSERT INTO ident_cust (cust_id, balance) "
        "SELECT c_custkey, c_acctbal FROM ident_raw_customer "
        "WHERE c_custkey % 2 = 1 ORDER BY c_custkey"
    )
    cat.sql(
        "UPDATE ident_cust SET balance = balance + 10 "
        "WHERE cust_id % 10 = 0"
    )
    cat.drop_table("ident_cust")
    out = snapshot_read(spark, t).select("row_id", "cust_id", "balance")
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_maintenance_read",
    oracle="""
        SELECT o_orderstatus AS status,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY o_orderstatus
    """,
    tags=("snapshot", "maintenance", "catalog"),
)
def snapshot_maintenance_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-12 maintenance surface under ONE driver hash gate:
    a partitioned table loads in three small batches (small-file
    creep), then auto-compaction (snapshot_compact_small — Delta's
    autoCompact shape), VACUUM ... DRY RUN (must touch nothing), a
    REAL vacuum (must keep every live file readable), SHOW PARTITIONS
    (its value list inner-joins the final aggregate, so a wrong
    partition listing drops rows), and SHOW CREATE TABLE (parsed for
    the partition clause) all run before the read. The oracle restates
    the per-status totals from raw orders, so a compaction that drops
    or duplicates rows, a vacuum that deletes a live file, or a stale
    partition listing all fail the hash."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources.snapshots import snapshot_compact_small, snapshot_read

    base = Path(tempfile.gettempdir()) / (
        f"snap_mnt_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "orders"
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "mnt_raw_orders"
    )
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE mnt_orders (order_id bigint, status string, "
        f"total_price double) USING snapshot LOCATION '{t}'"
    )
    cat.sql("ALTER TABLE mnt_orders SET PARTITIONED BY (status)")
    for rem in (0, 1, 2):
        cat.sql(
            "INSERT INTO mnt_orders "
            "SELECT o_orderkey, o_orderstatus, o_totalprice "
            f"FROM mnt_raw_orders WHERE o_orderkey % 3 = {rem}"
        )
    # autoCompact: every file here is tiny, so all qualify; the rewrite
    # must be change-invisible
    snapshot_compact_small(spark, t, min_small_files=2)
    # DRY RUN lists would-deletes and must touch nothing
    dry = cat.sql("VACUUM mnt_orders RETAIN 1 VERSIONS DRY RUN").collect()
    if not dry:
        raise RuntimeError("DRY RUN after compaction listed no candidates")
    # the real vacuum must keep every live file readable
    cat.sql("VACUUM mnt_orders RETAIN 1 VERSIONS")
    ddl = cat.sql("SHOW CREATE TABLE mnt_orders").first().createtab_stmt
    if "PARTITIONED BY (status)" not in ddl:
        raise RuntimeError(f"SHOW CREATE TABLE lost the partition spec: {ddl}")
    parts = cat.sql("SHOW PARTITIONS mnt_orders").select(
        F.col("status")
    )
    cat.drop_table("mnt_orders")
    agg = (
        snapshot_read(spark, t)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("total_price"), 2).alias("total_price"),
        )
    )
    out = agg.join(parts, "status", "inner").select(
        "status", "n_orders", "total_price"
    )
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_lifecycle_read",
    oracle="""
        WITH r0 AS (
            SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) AS rn
            FROM customer WHERE c_custkey % 3 = 0
        ), r1 AS (
            SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) AS rn
            FROM customer WHERE c_custkey % 3 = 1
        ), r2 AS (
            SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) AS rn
            FROM customer WHERE c_custkey % 3 = 2
        ), gen AS (
            SELECT CAST(rn AS BIGINT) AS row_id, c_custkey, 'unknown' AS seg
            FROM r0
            UNION ALL
            SELECT CAST((SELECT count(*) FROM r0) + rn AS BIGINT),
                   c_custkey, 'bulk'
            FROM r1
            UNION ALL
            SELECT CAST((SELECT count(*) FROM r0)
                        + (SELECT count(*) FROM r1) + rn AS BIGINT),
                   c_custkey, NULL
            FROM r2
        ), ev AS (
            SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) AS rn
            FROM customer WHERE c_custkey % 2 = 0
        ), al AS (
            SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) AS rn
            FROM customer
        ), trunc AS (
            SELECT CAST(100 + ((SELECT count(*) FROM ev) + rn - 1) * 7
                        AS BIGINT) AS row_id,
                   c_custkey,
                   CAST(NULL AS VARCHAR) AS seg
            FROM al
        )
        SELECT 'gen' AS part, row_id, c_custkey AS cust_id, seg FROM gen
        UNION ALL
        SELECT 'trunc', row_id, c_custkey, seg FROM trunc
    """,
    tags=("snapshot", "ddl", "identity", "defaults", "catalog"),
)
def snapshot_lifecycle_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-13 lifecycle surface under ONE driver hash gate, over
    two tables. Table GEN proves write-default GENERATIONS: three
    sorted narrow inserts land under DEFAULT 'unknown', then (after
    ALTER COLUMN SET DEFAULT) 'bulk', then (after DROP DEFAULT) NULL —
    each value bound at its own write time, identity ids running
    across all three. Table TRUNC proves TRUNCATE + identity: an
    insert, a metadata-only TRUNCATE, a SYNC IDENTITY (a no-op here —
    the mark must NOT move backward on an empty table), then a
    re-insert whose ids continue past the wiped generation (START 100
    INCREMENT 7). The oracle reconstructs both tables exactly, so a
    default leaking across generations, a truncate that resets the
    high-water mark, a SYNC that rewinds it, or a dropped row all fail
    the hash."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources.snapshots import snapshot_read

    base = Path(tempfile.gettempdir()) / (
        f"snap_lc_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "lc_raw_customer"
    )
    cat = SnapshotCatalog(spark)
    tg = base / "gen"
    cat.sql(
        f"CREATE TABLE lc_gen (row_id bigint GENERATED ALWAYS AS "
        f"IDENTITY, cust_id bigint, seg string DEFAULT 'unknown') "
        f"USING snapshot LOCATION '{tg}'"
    )
    cat.sql(
        "INSERT INTO lc_gen (cust_id) SELECT c_custkey FROM "
        "lc_raw_customer WHERE c_custkey % 3 = 0 ORDER BY c_custkey"
    )
    cat.sql("ALTER TABLE lc_gen ALTER COLUMN seg SET DEFAULT 'bulk'")
    cat.sql(
        "INSERT INTO lc_gen (cust_id) SELECT c_custkey FROM "
        "lc_raw_customer WHERE c_custkey % 3 = 1 ORDER BY c_custkey"
    )
    cat.sql("ALTER TABLE lc_gen ALTER COLUMN seg DROP DEFAULT")
    cat.sql(
        "INSERT INTO lc_gen (cust_id) SELECT c_custkey FROM "
        "lc_raw_customer WHERE c_custkey % 3 = 2 ORDER BY c_custkey"
    )
    tt = base / "trunc"
    cat.sql(
        f"CREATE TABLE lc_trunc (row_id bigint GENERATED ALWAYS AS "
        f"IDENTITY (START WITH 100 INCREMENT BY 7), cust_id bigint) "
        f"USING snapshot LOCATION '{tt}'"
    )
    cat.sql(
        "INSERT INTO lc_trunc (cust_id) SELECT c_custkey FROM "
        "lc_raw_customer WHERE c_custkey % 2 = 0 ORDER BY c_custkey"
    )
    cat.sql("TRUNCATE TABLE lc_trunc")
    cat.sql("ALTER TABLE lc_trunc SYNC IDENTITY")  # must not rewind
    cat.sql(
        "INSERT INTO lc_trunc (cust_id) SELECT c_custkey FROM "
        "lc_raw_customer ORDER BY c_custkey"
    )
    cat.drop_table("lc_gen")
    cat.drop_table("lc_trunc")
    gen = snapshot_read(spark, tg).select(
        F.lit("gen").alias("part"), "row_id", "cust_id", "seg"
    )
    trunc = snapshot_read(spark, tt).select(
        F.lit("trunc").alias("part"), "row_id", "cust_id",
        F.lit(None).cast("string").alias("seg"),
    )
    out = gen.unionByName(trunc)
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_governance_read",
    oracle="""
        WITH e AS (
            SELECT s_suppkey, s_name, s_nationkey,
                   row_number() OVER (ORDER BY s_suppkey) AS rn
            FROM supplier WHERE s_suppkey % 2 = 0
        ), o AS (
            SELECT s_suppkey, s_name, s_nationkey,
                   row_number() OVER (ORDER BY s_suppkey) AS rn
            FROM supplier WHERE s_suppkey % 2 = 1
        ), allrows AS (
            SELECT CAST(1000 + (rn - 1) * 2 AS BIGINT) AS row_id,
                   s_suppkey, s_name, s_nationkey
            FROM e
            UNION ALL
            SELECT CAST(1000 + ((SELECT count(*) FROM e) + rn - 1) * 2
                        AS BIGINT) AS row_id,
                   s_suppkey, s_name, s_nationkey
            FROM o
            UNION ALL
            SELECT CAST(1000 + (SELECT count(*) FROM supplier) * 2
                        AS BIGINT) AS row_id,
                   CAST(-1 AS BIGINT), 'SENTINEL', CAST(-1 AS BIGINT)
        )
        SELECT row_id,
               s_suppkey AS sup_id,
               CASE WHEN s_suppkey % 10 = 0
                    THEN upper(s_name) ELSE s_name END AS sup_name,
               s_nationkey AS nation_id,
               CAST('2024-01-15' AS DATE) AS loaded,
               'std' AS tier,
               'pipeline' AS owner,
               'supplier key' AS sup_comment
        FROM allrows
    """,
    tags=("snapshot", "ddl", "governance", "identity", "catalog"),
)
def snapshot_governance_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-13/14 governance surface under ONE driver hash gate:

    * CREATE TABLE with column clauses in MIXED order (``COMMENT``
      before ``NOT NULL``, ``DEFAULT`` before ``NOT NULL`` — the r14
      order-free grammar), column COMMENTs, an IDENTITY column, and an
      EXPRESSION-valued DEFAULT (``CAST('2024-01-15' AS date)`` — folds
      at DDL time, re-evaluates per write batch);
    * two sorted narrow INSERTs allocating identity (START 1000 STEP 2);
    * a NOT NULL violation probe that must REFUSE and land nothing;
    * TBLPROPERTIES lifecycle: SET two keys, UNSET one, SHOW must
      round-trip exactly the survivor (its value becomes the ``owner``
      output column, so a property that fails to stick fails the hash);
    * column COMMENT round-trip through DESCRIBE TABLE (the comment
      text becomes the ``sup_comment`` output column);
    * ADD CONSTRAINT with a CHECK referencing the IDENTITY column, cut
      exactly one allocation above the high-water mark — the MERGE
      below fits, the probe after it must refuse POST-allocation (the
      r14 fix: identity-referencing CHECKs enforce after allocation,
      Delta's contract);
    * a conditional MERGE whose matched arm uppercases every %10
      supplier name (ids must CARRY) and whose insert arm allocates
      exactly one sentinel row (deterministic id).

    The oracle reconstructs the exact ids, names, default dates,
    property value, and comment text — any silent refusal-bypass,
    lost comment, stale property, reallocation, or default drift
    fails the hash."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources.snapshots import (
        SnapshotConstraintViolation,
        snapshot_read,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_gov_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "sup"
    sup = load_table(spark, sf_dir, "supplier")
    sup.createOrReplaceTempView("gov_raw_supplier")
    n_sup = sup.count()  # one scalar: sizes the identity-cap constraint
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE gov_sup ("
        f"row_id bigint GENERATED ALWAYS AS IDENTITY "
        f"(START WITH 1000 INCREMENT BY 2) COMMENT 'surrogate id', "
        f"sup_id bigint COMMENT 'supplier key' NOT NULL, "
        f"sup_name string, "
        f"nation_id bigint DEFAULT 0 NOT NULL, "
        f"loaded date DEFAULT CAST('2024-01-15' AS date)"
        f") USING snapshot LOCATION '{t}'"
    )
    for rem in (0, 1):
        cat.sql(
            "INSERT INTO gov_sup (sup_id, sup_name, nation_id) "
            "SELECT s_suppkey, s_name, s_nationkey FROM gov_raw_supplier "
            f"WHERE s_suppkey % 2 = {rem} ORDER BY s_suppkey"
        )
    # NOT NULL must refuse and land nothing (hash catches a leak)
    try:
        cat.sql(
            "INSERT INTO gov_sup (sup_id, sup_name, nation_id) "
            "VALUES (NULL, 'ghost', 1)"
        )
        raise RuntimeError("NOT NULL refusal did not fire")
    except SnapshotConstraintViolation:
        pass
    # TBLPROPERTIES lifecycle: survivor's value feeds the output
    cat.sql(
        "ALTER TABLE gov_sup SET TBLPROPERTIES "
        "('gov.owner' = 'pipeline', 'gov.tmp' = 'scratch')"
    )
    cat.sql("ALTER TABLE gov_sup UNSET TBLPROPERTIES ('gov.tmp')")
    props = {
        r.key: r.value
        for r in cat.sql("SHOW TBLPROPERTIES gov_sup").collect()
    }
    if props.get("gov.tmp") is not None or "gov.owner" not in props:
        raise RuntimeError(f"TBLPROPERTIES lifecycle broke: {props}")
    owner = props["gov.owner"]
    # COMMENT round-trip through DESCRIBE
    desc = {
        r.col_name: r.comment
        for r in cat.sql("DESCRIBE TABLE gov_sup").collect()
    }
    if desc.get("row_id") != "surrogate id":
        raise RuntimeError(f"row_id comment lost: {desc}")
    sup_comment = desc["sup_id"]
    # identity-referencing CHECK: allows exactly ONE more allocation
    # (the MERGE sentinel), refuses the next — post-allocation enforced
    cap = 1000 + 2 * n_sup + 1
    cat.sql(
        f"ALTER TABLE gov_sup ADD CONSTRAINT gov_cap CHECK (row_id < {cap})"
    )
    upd = sup.where("s_suppkey % 10 = 0").selectExpr(
        "s_suppkey AS sup_id", "s_name AS sup_name",
        "s_nationkey AS nation_id",
    )
    sent = spark.createDataFrame(
        [(-1, "SENTINEL", -1)],
        "sup_id long, sup_name string, nation_id long",
    )
    upd.unionByName(sent).createOrReplaceTempView("gov_merge_src")
    cat.sql(
        "MERGE INTO gov_sup t USING gov_merge_src s ON t.sup_id = s.sup_id "
        "WHEN MATCHED THEN UPDATE SET sup_name = upper(s.sup_name) "
        "WHEN NOT MATCHED THEN INSERT (sup_id, sup_name, nation_id) "
        "VALUES (s.sup_id, s.sup_name, s.nation_id)"
    )
    try:
        cat.sql(
            "INSERT INTO gov_sup (sup_id, sup_name, nation_id) "
            "VALUES (7777, 'over-cap', 1)"
        )
        raise RuntimeError(
            "identity-referencing CHECK did not fire post-allocation"
        )
    except SnapshotConstraintViolation:
        pass
    # ADD COLUMN with the full clause grammar (r14): every standing row
    # must read the birth default, the comment must round-trip, and the
    # NOT NULL constraint must validate against that default — all
    # O(metadata), no rewrite (the read below proves the backfill)
    cat.sql(
        "ALTER TABLE gov_sup ADD COLUMN tier string "
        "DEFAULT 'std' NOT NULL COMMENT 'service tier'"
    )
    desc2 = {
        r.col_name: r.comment
        for r in cat.sql("DESCRIBE TABLE gov_sup").collect()
    }
    if desc2.get("tier") != "service tier":
        raise RuntimeError(f"ADD COLUMN comment lost: {desc2}")
    cat.drop_table("gov_sup")
    out = snapshot_read(spark, t).select(
        "row_id", "sup_id", "sup_name", "nation_id", "loaded", "tier",
        F.lit(owner).alias("owner"),
        F.lit(sup_comment).alias("sup_comment"),
    )
    return out.localCheckpoint(eager=True)


@register(
    "snapshot_ddl_lifecycle_read",
    oracle="""
        WITH a1 AS (
            SELECT o_orderkey AS k, o_orderstatus AS cat,
                   o_totalprice AS total
            FROM orders WHERE o_orderkey % 7 = 0
        ), a2 AS (
            SELECT o_orderkey AS k, o_orderstatus AS cat,
                   o_totalprice AS total
            FROM orders WHERE o_orderkey % 7 = 3
        ), b AS (
            SELECT c_custkey AS k, c_mktsegment AS cat
            FROM customer WHERE c_custkey % 5 = 0
        )
        SELECT 'orders' AS part, k, cat, total,
               'etl' AS src, '2024-03-01' AS loaded,
               CAST(3 AS BIGINT) AS prio,
               'source system' AS src_comment,
               'c_prio,c_total' AS violated
        FROM a1
        UNION ALL
        SELECT 'orders', k, cat, total,
               'late', '2024-03-01', CAST(3 AS BIGINT),
               'source system', 'c_prio,c_total'
        FROM a2
        UNION ALL
        SELECT 'cust', k, cat, NULL,
               NULL, NULL, NULL, 'source system', 'c_prio,c_total'
        FROM b
    """,
    tags=("snapshot", "ddl", "governance", "partitioning", "catalog"),
)
def snapshot_ddl_lifecycle_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-14-late DDL surface under ONE driver hash gate:

    * CREATE TABLE with inline ``PARTITIONED BY`` in BOTH grammar
      positions (between USING and LOCATION on the orders table; after
      LOCATION on the customer table) — inserts route per partition
      value through the manifest partitioning spec;
    * ADD COLUMNS with the FULL column-spec clause grammar in one
      multi-column statement: ``NOT NULL`` + ``DEFAULT`` + ``COMMENT``
      on one column, an EXPRESSION default (``CAST('2024-03-01' AS
      date)``) on another, and an arithmetic expression default
      (``1 + 2`` — folds to 3 at DDL time) on a third;
    * the comment round-trips through DESCRIBE TABLE (its text becomes
      the ``src_comment`` output column);
    * MULTI-COLUMN ATOMICITY (the r15 complete pre-validation): three
      refusal probes — a GENERATED spec, a duplicate of a live column,
      and a nondeterministic expression default — each in the SECOND
      spec of a two-column statement; the FIRST spec must not land
      (the schema is re-checked after each probe, and a leaked column
      would change the output schema and fail the hash);
    * write-vs-birth default split: rows inserted BEFORE the ADD read
      the birth default (``'etl'``), a narrow batch after ``ALTER
      COLUMN src SET DEFAULT 'late'`` resolves the WRITE default;
    * multi-constraint single-scan diagnostics (the r14 batched
      _run_constraint_checks): one insert violating BOTH standing
      CHECKs must name them ALL in one refusal — the violated names
      become the ``violated`` output column, so a per-constraint
      enforcement path (which reports only the first) fails the hash.

    The oracle reconstructs both tables, the defaults by generation,
    the comment text, and the full violated-constraint list."""
    import re as _re
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources.snapshots import (
        SnapshotConstraintViolation,
        snapshot_read,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_ddl_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "ddl_raw_orders"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "ddl_raw_customer"
    )
    cat = SnapshotCatalog(spark)
    ta, tb = base / "orders", base / "cust"
    # grammar position 1: PARTITIONED BY between USING and LOCATION
    cat.sql(
        f"CREATE TABLE ddl_orders (k bigint, cat string, total double) "
        f"USING snapshot PARTITIONED BY (cat) LOCATION '{ta}'"
    )
    cat.sql(
        "INSERT INTO ddl_orders SELECT o_orderkey, o_orderstatus, "
        "o_totalprice FROM ddl_raw_orders WHERE o_orderkey % 7 = 0 "
        "ORDER BY o_orderkey"
    )
    # the full ADD COLUMNS clause grammar, one atomic statement
    cat.sql(
        "ALTER TABLE ddl_orders ADD COLUMNS ("
        "src string DEFAULT 'etl' NOT NULL COMMENT 'source system', "
        "loaded date DEFAULT CAST('2024-03-01' AS date), "
        "prio bigint DEFAULT 1 + 2)"
    )
    desc = {
        r.col_name: r.comment
        for r in cat.sql("DESCRIBE TABLE ddl_orders").collect()
    }
    if desc.get("src") != "source system":
        raise RuntimeError(f"ADD COLUMNS comment lost: {desc}")
    src_comment = desc["src"]
    # three atomicity probes: the refusal is in the SECOND spec, the
    # FIRST must not land
    probes = (
        ("x1 bigint, g bigint GENERATED ALWAYS AS (k + 1)", "x1"),
        ("x2 bigint, cat string", "x2"),           # duplicate live name
        ("x3 bigint, r double DEFAULT rand()", "x3"),
    )
    for spec, leaked in probes:
        try:
            cat.sql(f"ALTER TABLE ddl_orders ADD COLUMNS ({spec})")
            raise RuntimeError(f"ADD COLUMNS ({spec}) did not refuse")
        except ValueError:
            pass
        cols_now = [
            r.col_name for r in cat.sql("DESCRIBE TABLE ddl_orders").collect()
        ]
        if leaked in cols_now:
            raise RuntimeError(
                f"ADD COLUMNS atomicity broke: {leaked} landed from a "
                f"refused statement"
            )
    # write-vs-birth default split on the narrow second insert
    cat.sql("ALTER TABLE ddl_orders ALTER COLUMN src SET DEFAULT 'late'")
    cat.sql(
        "INSERT INTO ddl_orders (k, cat, total) SELECT o_orderkey, "
        "o_orderstatus, o_totalprice FROM ddl_raw_orders "
        "WHERE o_orderkey % 7 = 3 ORDER BY o_orderkey"
    )
    # multi-constraint single-scan diagnostics: violate BOTH at once
    cat.sql("ALTER TABLE ddl_orders ADD CONSTRAINT c_total CHECK (total >= 0)")
    cat.sql("ALTER TABLE ddl_orders ADD CONSTRAINT c_prio CHECK (prio < 100)")
    try:
        cat.sql(
            "INSERT INTO ddl_orders (k, cat, total, prio) "
            "VALUES (999999999, 'X', -5.0, 500)"
        )
        raise RuntimeError("multi-constraint violation did not refuse")
    except SnapshotConstraintViolation as e:
        msg = str(e)
        named = set(_re.findall(r"'(c_\w+)'", msg))
        named |= set(_re.findall(r"(c_\w+)", msg.split("also violated", 1)[1])
                     if "also violated" in msg else [])
        if named != {"c_total", "c_prio"}:
            raise RuntimeError(
                f"single-scan diagnostics regressed: named {named} "
                f"in {msg!r}"
            )
        violated = ",".join(sorted(named))
    # grammar position 2: PARTITIONED BY after LOCATION
    cat.sql(
        f"CREATE TABLE ddl_cust (k bigint, cat string) USING snapshot "
        f"LOCATION '{tb}' PARTITIONED BY (cat)"
    )
    cat.sql(
        "INSERT INTO ddl_cust SELECT c_custkey, c_mktsegment "
        "FROM ddl_raw_customer WHERE c_custkey % 5 = 0 ORDER BY c_custkey"
    )
    cat.drop_table("ddl_orders")
    cat.drop_table("ddl_cust")
    a = snapshot_read(spark, ta).select(
        F.lit("orders").alias("part"), "k", "cat", "total", "src",
        F.col("loaded").cast("string").alias("loaded"), "prio",
        F.lit(src_comment).alias("src_comment"),
        F.lit(violated).alias("violated"),
    )
    b = snapshot_read(spark, tb).select(
        F.lit("cust").alias("part"), "k", "cat",
        F.lit(None).cast("double").alias("total"),
        F.lit(None).cast("string").alias("src"),
        F.lit(None).cast("string").alias("loaded"),
        F.lit(None).cast("bigint").alias("prio"),
        F.lit(src_comment).alias("src_comment"),
        F.lit(violated).alias("violated"),
    )
    return a.unionByName(b).localCheckpoint(eager=True)


@register(
    "stream_paced_sink_read",
    oracle="""
        SELECT o_orderkey AS k, o_orderstatus AS st,
               o_totalprice AS total,
               CAST(3 AS BIGINT) AS drain_runs,
               CAST(1 AS BIGINT) AS resume_runs
        FROM orders WHERE o_orderkey % 11 IN (0, 1, 2)
    """,
    tags=("streaming", "snapshot", "rate-limit", "exactly-once"),
)
def stream_paced_sink_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming maintenance surface under ONE driver hash gate,
    batch-composed so the result is deterministic:

    * a snapshot SOURCE table with three commits of KNOWN file counts
      (2 + 1 + 1 — repartitionByRange/coalesce pin the layout);
    * a RATE-LIMITED stream over it (``maxFilesPerTrigger=1``, Delta's
      backpressure knob on the version-offset DataSource): with
      ``trigger(availableNow)`` each run drains exactly ONE paced slice,
      so draining the 3-file backlog takes exactly three runs — each a
      RESTART resuming from the checkpointed ``(version, index)``
      offset (run counts are asserted in-fixture; a pacing regression
      fails loudly before the hash is even computed);
    * the exactly-once SINK (stream_snapshot_sink's (appId, batchId)
      txn protocol): a replay run against the drained checkpoint must
      commit NOTHING (row count pinned), and a fourth commit on the
      source drains in exactly one more resumed run;
    * the mid-version split: the first source commit lands 2 files, so
      run 2 resumes from an offset INSIDE that version — no row skipped
      or doubled (the content hash proves it).

    The oracle is the union of the three source slices plus the pinned
    run counts — duplicates from a replayed batch, losses from a
    mis-resumed offset, or a pacing change all fail the hash."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_datasource import SnapshotDataSource
    from ..sources.snapshots import (
        snapshot_append,
        snapshot_read,
        snapshot_write,
        stream_snapshot_sink,
    )

    try:
        spark.dataSource.register(SnapshotDataSource)
    except Exception:
        pass  # already registered in this session
    base = Path(tempfile.gettempdir()) / (
        f"snap_paced_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    src, out, ckpt = base / "src", base / "out", base / "ckpt"
    orders = load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderkey AS k", "o_orderstatus AS st", "o_totalprice AS total"
    )
    # commit 1: TWO files (the mid-version split target); commit 2: one
    snapshot_write(
        orders.where("k % 11 = 0").repartitionByRange(2, "k"), src
    )
    snapshot_append(orders.where("k % 11 = 1").coalesce(1), src)

    def paced_stream() -> DataFrame:
        return (
            spark.readStream.format("snapshot")
            .option("path", str(src))
            .option("maxFilesPerTrigger", "1")
            .load()
        )

    def drain_runs(expect_rows: int, max_runs: int) -> int:
        """availableNow + maxFilesPerTrigger drains ONE slice per run;
        re-run (a checkpoint RESTART each time) until the sink holds
        expect_rows. Returns the number of runs that made progress."""
        runs = 0
        for _ in range(max_runs):
            q = stream_snapshot_sink(paced_stream(), out, ckpt)
            q.awaitTermination(300)
            runs += 1
            if snapshot_read(spark, out).count() == expect_rows:
                return runs
        raise RuntimeError(
            f"paced drain did not reach {expect_rows} rows in "
            f"{max_runs} runs"
        )

    n1 = orders.where("k % 11 = 0").count()
    n2 = orders.where("k % 11 = 1").count()
    n3 = orders.where("k % 11 = 2").count()
    # pacing expectation derives from the committed layout: one run per
    # file at maxFilesPerTrigger=1 (an EMPTY lake commits zero files —
    # the one empty run still completes; real SFs pin the 2+1 layout)
    from ..sources.snapshots import _read_manifest, current_version

    n_src_files = len(_read_manifest(Path(src), current_version(src))["files"])
    if (n1 + n2) > 0 and n_src_files != 3:
        raise RuntimeError(
            f"fixture layout drifted: {n_src_files} source files, "
            "expected 2 + 1"
        )
    first = drain_runs(n1 + n2, max_runs=5)
    # the run count is only observable through ROW progress, so the
    # pacing assert needs non-empty files — real SFs always have them
    # (the range split of a non-empty slice fills both partitions); an
    # EMPTY lake writes empty files and the early-out is correct there
    if (n1 + n2) > 0 and first != n_src_files:
        raise RuntimeError(
            f"pacing regressed: {n_src_files} files should drain in "
            f"{n_src_files} runs, took {first}"
        )
    # replay run on the drained checkpoint: exactly-once means NOTHING
    # commits (a duplicated batch would double rows and fail the hash)
    q = stream_snapshot_sink(paced_stream(), out, ckpt)
    q.awaitTermination(300)
    if snapshot_read(spark, out).count() != n1 + n2:
        raise RuntimeError("replay run changed the sink — exactly-once broke")
    # commit 4 on the source: one more file, one more resumed run
    snapshot_append(orders.where("k % 11 = 2").coalesce(1), src)
    resume = drain_runs(n1 + n2 + n3, max_runs=3)
    if resume != 1:
        raise RuntimeError(
            f"resume regressed: 1 new file should drain in 1 run, took "
            f"{resume}"
        )
    got = snapshot_read(spark, out).select(
        "k", "st", "total",
        F.lit(first).cast("bigint").alias("drain_runs"),
        F.lit(resume).cast("bigint").alias("resume_runs"),
    )
    return got.localCheckpoint(eager=True)


@register(
    "snapshot_widen_bloom_read",
    oracle="""
        SELECT p_partkey AS k,
               CAST(p_size AS BIGINT) AS sz,
               CASE WHEN p_partkey % 3 = 0 THEN floor(p_retailprice)
                    ELSE p_retailprice END AS price,
               CASE WHEN p_partkey % 3 = 0 THEN 'gen1' ELSE 'gen2' END
                   AS gen,
               CAST(1 AS BIGINT) AS bloom_pruned
        FROM part WHERE p_partkey % 3 IN (0, 1)
    """,
    tags=("snapshot", "ddl", "widening", "bloom", "catalog"),
)
def snapshot_widen_bloom_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-15-late maintenance surface under ONE driver hash gate:

    * ``ALTER COLUMN ... TYPE <wider>`` (proactive type widening as an
      O(1) metadata commit): gen1 lands with ``sz int`` / ``price
      float``; both columns widen to bigint/double; gen2 then lands
      ALREADY wide. Existing narrow files must read back cast-up and
      both generations must agree bit-for-bit with the oracle's DOUBLE
      arithmetic — a read that keeps serving float32 for gen1 drifts on
      every price with a fractional part and fails the hash;
    * narrowing and cross-chain refusal probes (each must refuse
      loudly and change nothing; the identity-widening refusal is
      pinned in tests/test_snapshot_governance_r15.py);
    * ``ANALYZE TABLE ... COMPUTE BLOOM FILTERS FOR COLUMNS``: the
      table was written WITHOUT blooms; after the backfill a point
      lookup for an absent key must prune to ZERO files (asserted
      in-fixture, and the 0-or-1 outcome feeds the ``bloom_pruned``
      output column so a silent no-op backfill fails the hash too).

    float->double note: raw money-like doubles are NOT float32-exact,
    so gen1 inserts FLOORED prices (integers are exact in float AND
    double) — the cast-up read is proven without quantization drift,
    and the oracle floors the same rows."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources.snapshots import snapshot_files

    base = Path(tempfile.gettempdir()) / (
        f"snap_wb_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    t = base / "part"
    load_table(spark, sf_dir, "part").createOrReplaceTempView("wb_raw_part")
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE wb_part (k bigint, sz int, price float, gen string) "
        f"USING snapshot LOCATION '{t}'"
    )
    # gen1: narrow types; prices floored (float-exact, see docstring)
    cat.sql(
        "INSERT INTO wb_part SELECT p_partkey, p_size, "
        "CAST(floor(p_retailprice) AS float), 'gen1' FROM wb_raw_part "
        "WHERE p_partkey % 3 = 0 ORDER BY p_partkey"
    )
    cat.sql("ALTER TABLE wb_part ALTER COLUMN sz TYPE bigint")
    cat.sql("ALTER TABLE wb_part ALTER COLUMN price TYPE double")
    # refusal probes: narrowing and cross-chain — loud, no-ops
    for bad in ("ALTER TABLE wb_part ALTER COLUMN sz TYPE int",
                "ALTER TABLE wb_part ALTER COLUMN gen TYPE bigint"):
        try:
            cat.sql(bad)
            raise RuntimeError(f"{bad!r} did not refuse")
        except ValueError:
            pass
    # gen2: already-wide batch composes with the widened declaration
    cat.sql(
        "INSERT INTO wb_part SELECT p_partkey, CAST(p_size AS bigint), "
        "p_retailprice, 'gen2' FROM wb_raw_part "
        "WHERE p_partkey % 3 = 1 ORDER BY p_partkey"
    )
    # bloom backfill: written without filters; a miss must prune to 0
    # AND a present key must keep its file (a filter that wrongly
    # rejects everything would "prune" both)
    cat.sql("ANALYZE TABLE wb_part COMPUTE BLOOM FILTERS FOR COLUMNS (k)")
    missed = snapshot_files(t, [{"k": (999_999_999, 999_999_999)}])
    if missed:
        raise RuntimeError(
            f"bloom backfill did not prune an absent key: {missed}"
        )
    present = cat.sql("SELECT min(k) AS m FROM wb_part").first()["m"]
    if present is not None and not snapshot_files(
        t, [{"k": (present, present)}]
    ):
        raise RuntimeError(
            f"bloom backfill wrongly rejects present key {present}"
        )
    pruned_flag = 1
    cat.drop_table("wb_part")
    from ..sources.snapshots import snapshot_read

    out = snapshot_read(spark, t).select(
        "k",
        F.col("sz").cast("bigint").alias("sz"),
        "price", "gen",
        F.lit(pruned_flag).cast("bigint").alias("bloom_pruned"),
    )
    return out.localCheckpoint(eager=True)


@register(
    "formats_roundtrip_read",
    oracle="""
        SELECT 'jsonl' AS fmt, source AS grp,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(n_chars) AS BIGINT) AS total
        FROM documents WHERE doc_id % 2 = 0
        GROUP BY source
        UNION ALL
        SELECT 'orc', o_orderstatus,
               CAST(count(*) AS BIGINT),
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        FROM orders WHERE o_orderkey % 4 = 0
        GROUP BY o_orderstatus
    """,
    tags=("formats", "ingest", "jsonl", "orc"),
)
def formats_roundtrip_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-format source/sink tier (sources/formats.py) under the
    driver hash gate — JSONL and ORC, the two formats an LLM training
    lake actually meets at the edges (JSONL is the interchange format
    for document corpora; ORC the columnar peer where the ecosystem
    prefers it):

    * a documents slice (text with newlines/quotes/unicode intact)
      round-trips through ``write_any(fmt='jsonl')`` -> ``read_any``
      with extension detection (the .jsonl suffix picks the reader)
      and an explicit schema (the production shape — inference is for
      exploration);
    * an orders slice round-trips through ORC;
    * the output aggregates BOTH round-tripped frames, so any lost or
      mangled row/field (JSON escaping, ORC nulls, schema drift)
      changes a count or checksum and fails the hash. Money values
      compare as integer cents — exact through every format.

    Reference parity: the reference ingests CSV only
    (dynamic-data-processor.py:31-38); this is the lake-general ingest
    edge SURVEY §2.1 S1 generalizes to."""
    import shutil

    from pyspark.sql import types as T

    from ..sources.catalog import load_table
    from ..sources.formats import read_any, write_any

    base = Path(tempfile.gettempdir()) / (
        f"fmt_rt_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    docs = load_table(spark, sf_dir, "documents").where("doc_id % 2 = 0")
    write_any(docs, base / "docs.jsonl", fmt="jsonl")
    doc_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])
    docs_back = read_any(spark, base / "docs.jsonl", schema=doc_schema)
    a = docs_back.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("n_chars").cast("bigint").alias("total"),
    ).select(F.lit("jsonl").alias("fmt"), F.col("source").alias("grp"),
             "cnt", "total")
    orders = load_table(spark, sf_dir, "orders").where("o_orderkey % 4 = 0")
    write_any(orders, base / "orders.orc", fmt="orc")
    orders_back = read_any(spark, base / "orders.orc")  # .orc suffix routes
    b = orders_back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).cast("bigint").alias("total"),
    ).select(F.lit("orc").alias("fmt"),
             F.col("o_orderstatus").alias("grp"), "cnt", "total")
    return a.unionByName(b).localCheckpoint(eager=True)


@register(
    "reference_sql_suite_read",
    oracle="""
        SELECT 'count_customers' AS query, 'all' AS k,
               CAST((SELECT count(*) FROM customer) AS DOUBLE) AS v
        UNION ALL
        SELECT 'top_suppliers_by_nation', n.n_name,
               CAST(count(*) AS DOUBLE)
        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name
        UNION ALL
        SELECT 'total_revenue_per_customer',
               CAST(customer_id AS VARCHAR), total_revenue
        FROM (
            SELECT c.c_custkey AS customer_id,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                       AS total_revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY c.c_custkey, c.c_name
            ORDER BY total_revenue DESC, customer_id
            LIMIT 10
        )
    """,
    tags=("reference", "sql-source", "client"),
)
def reference_sql_suite_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's EP3 client path END-TO-END under the driver hash
    gate: all three .sql analogs (sql_queries/*.sql — the SQL-text
    source, reference athena_querier.py:14-23) executed through
    ``run_all``'s name->file registry loop with per-query error
    isolation (reference main_analytics.py:26-43), over the memoized
    view registration. A failed query, a missing .sql file, a stale
    view memo, or any drift in the verbatim SQL text fails loudly or
    hash-mismatches. Outputs normalize to one (query, k, v) frame —
    the oracle restates each query in DuckDB."""
    from ..plans.query_api import run_all

    results = run_all(spark, sf_dir)
    bad = [r.name for r in results if not r.ok]
    if bad or len(results) != 3:
        raise RuntimeError(
            f"reference SQL suite degraded: {len(results)} queries, "
            f"failed={bad} ({[r.error for r in results if not r.ok]})"
        )
    frames = {r.name: r.dataframe for r in results}
    a = frames["count_customers"].select(
        F.lit("count_customers").alias("query"),
        F.lit("all").alias("k"),
        F.col("n_customers").cast("double").alias("v"),
    )
    b = frames["top_suppliers_by_nation"].select(
        F.lit("top_suppliers_by_nation").alias("query"),
        F.col("nation_name").alias("k"),
        F.col("n_suppliers").cast("double").alias("v"),
    )
    c = frames["total_revenue_per_customer"].select(
        F.lit("total_revenue_per_customer").alias("query"),
        F.col("customer_id").cast("string").alias("k"),
        F.col("total_revenue").cast("double").alias("v"),
    )
    return a.unionByName(b).unionByName(c)


@register(
    "snapshot_ctas_ddl_read",
    oracle="""
        SELECT 'ctas1' AS part, o_orderkey AS k, o_orderstatus AS cat,
               o_totalprice AS total, CAST(NULL AS BIGINT) AS extra
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT 'ctas2', c_custkey, c_mktsegment,
               CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)
        FROM customer WHERE c_custkey % 5 = 0
        UNION ALL
        SELECT 'rt', c_custkey + 1, c_mktsegment,
               CAST((c_custkey + 1) * 2 AS DOUBLE), CAST(NULL AS BIGINT)
        FROM customer WHERE c_custkey % 9 = 0
        UNION ALL
        SELECT 'txn', o_orderkey, CAST(NULL AS VARCHAR),
               CAST(NULL AS DOUBLE), CAST(9 AS BIGINT)
        FROM orders WHERE o_orderkey % 13 = 1
        UNION ALL
        SELECT 'txn', o_orderkey, CAST(NULL AS VARCHAR),
               CAST(NULL AS DOUBLE), o_orderkey % 5
        FROM orders WHERE o_orderkey % 13 = 2
    """,
    tags=("snapshot", "ddl", "ctas", "transactions", "catalog"),
)
def snapshot_ctas_ddl_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-15-late DDL surface under ONE driver hash gate:

    * partitioned CTAS in BOTH grammar positions (``PARTITIONED BY``
      between USING and LOCATION over orders; after LOCATION over
      customer) — the result lands one file set per partition value
      with the spec in the manifest (SHOW PARTITIONS asserted
      in-fixture), and a spec column the query does not produce
      refuses loudly WITHOUT registering the table or creating a
      snapshot at the location;
    * the SHOW CREATE TABLE closure: a table with IDENTITY spec,
      NOT NULL + DEFAULT + COMMENT, a GENERATED column, partitioning,
      a CHECK constraint (travelling as delta.constraints.*
      TBLPROPERTIES) and a plain property re-executes VERBATIM at a
      new location into a behaviorally equivalent table — identity
      allocates from the declared start/step grid, the generated
      column computes, the re-applied CHECK refuses, and the property
      round-trips through the second SHOW CREATE;
    * transactional DDL: ADD COLUMN staged under BEGIN is invisible
      after ROLLBACK (schema re-checked), and a BEGIN -> ADD COLUMN ->
      INSERT -> COMMIT applies atomically — pre-transaction rows read
      the birth default (9) while the in-transaction insert's explicit
      values land, so the generational split rides the hash.

    The oracle reconstructs all four legs from the raw tables."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources.snapshots import (
        SnapshotConstraintViolation,
        snapshot_read,
    )

    base = Path(tempfile.gettempdir()) / (
        f"snap_ctasddl_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "cd_raw_orders"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "cd_raw_customer"
    )
    cat = SnapshotCatalog(spark)
    # --- leg 1: partitioned CTAS, grammar position 1 ----------------
    t1 = base / "c1"
    cat.sql(
        f"CREATE TABLE cd1 USING snapshot PARTITIONED BY (cat) "
        f"LOCATION '{t1}' AS SELECT o_orderkey AS k, "
        f"o_orderstatus AS cat, o_totalprice AS total "
        f"FROM cd_raw_orders WHERE o_orderkey % 7 = 0"
    )
    parts = {r[0] for r in cat.sql("SHOW PARTITIONS cd1").collect()}
    expect_parts = {
        r[0] for r in spark.sql(
            "SELECT DISTINCT o_orderstatus FROM cd_raw_orders "
            "WHERE o_orderkey % 7 = 0"
        ).collect()
    }  # independent recomputation; empty lake => empty set, still exact
    if parts != expect_parts:
        raise RuntimeError(f"partitioned CTAS spec missing: {parts}")
    # --- leg 2: partitioned CTAS, grammar position 2 ----------------
    t2 = base / "c2"
    cat.sql(
        f"CREATE TABLE cd2 USING snapshot LOCATION '{t2}' "
        f"PARTITIONED BY (cat) AS SELECT c_custkey AS k, "
        f"c_mktsegment AS cat FROM cd_raw_customer "
        f"WHERE c_custkey % 5 = 0"
    )
    # refusal probe: unproduced spec column registers NOTHING
    t3 = base / "c3"
    try:
        cat.sql(
            f"CREATE TABLE cd3 USING snapshot PARTITIONED BY (nosuch) "
            f"LOCATION '{t3}' AS SELECT c_custkey AS k "
            f"FROM cd_raw_customer WHERE c_custkey % 5 = 0"
        )
        raise RuntimeError("unproduced spec column did not refuse")
    except ValueError:
        pass
    if (t3 / "_latest").exists():
        raise RuntimeError("refused CTAS left a snapshot at the location")
    if "cd3" in getattr(cat, "_tables", {}):
        raise RuntimeError("refused CTAS registered the table")
    # --- leg 3: SHOW CREATE TABLE round-trip ------------------------
    import re as _re

    t4, t5 = base / "rt1", base / "rt2"
    cat.sql(
        f"CREATE TABLE cdrt (id bigint GENERATED ALWAYS AS IDENTITY "
        f"(START WITH 5 INCREMENT BY 2), "
        f"k bigint NOT NULL DEFAULT 1 COMMENT 'key', cat string, "
        f"g bigint GENERATED ALWAYS AS (k * 2)) USING snapshot "
        f"PARTITIONED BY (cat) LOCATION '{t4}'"
    )
    cat.sql("ALTER TABLE cdrt ADD CONSTRAINT pos CHECK (k > 0)")
    cat.sql("ALTER TABLE cdrt SET TBLPROPERTIES ('team' = 'energy')")
    ddl = cat.sql("SHOW CREATE TABLE cdrt").first()[0]
    cat.sql(_re.sub(r"LOCATION '[^']+'", f"LOCATION '{t5}'",
                    ddl.replace("cdrt", "cdrt2")))
    cat.sql(
        "INSERT INTO cdrt2 (k, cat) SELECT c_custkey + 1, c_mktsegment "
        "FROM cd_raw_customer WHERE c_custkey % 9 = 0 ORDER BY c_custkey"
    )
    n = cat.sql("SELECT count(*) AS n FROM cdrt2").first()["n"]
    ids = {r[0] for r in cat.sql("SELECT id FROM cdrt2").collect()}
    if ids != {5 + 2 * i for i in range(n)}:
        raise RuntimeError(
            f"re-executed IDENTITY spec lost the start/step grid: "
            f"{sorted(ids)[:5]}..."
        )
    try:
        cat.sql("INSERT INTO cdrt2 (k, cat) VALUES (-1, 'X')")
        raise RuntimeError("re-applied CHECK did not fire")
    except SnapshotConstraintViolation:
        pass
    ddl2 = cat.sql("SHOW CREATE TABLE cdrt2").first()[0]
    if "'team' = 'energy'" not in ddl2.replace('"', "'"):
        raise RuntimeError(f"property lost in round-trip: {ddl2!r}")
    # --- leg 4: transactional DDL -----------------------------------
    t6 = base / "txd"
    cat.sql(
        f"CREATE TABLE cdtx (k bigint) USING snapshot LOCATION '{t6}'"
    )
    cat.sql(
        "INSERT INTO cdtx SELECT o_orderkey FROM cd_raw_orders "
        "WHERE o_orderkey % 13 = 1 ORDER BY o_orderkey"
    )
    cat.sql("BEGIN TRANSACTION")
    cat.sql("ALTER TABLE cdtx ADD COLUMN extra bigint DEFAULT 9")
    cat.sql("ROLLBACK")
    cols = [r.col_name for r in cat.sql("DESCRIBE cdtx").collect()]
    if cols != ["k"]:
        raise RuntimeError(f"rolled-back ADD COLUMN leaked: {cols}")
    cat.sql("BEGIN TRANSACTION")
    cat.sql("ALTER TABLE cdtx ADD COLUMN extra bigint DEFAULT 9")
    cat.sql(
        "INSERT INTO cdtx (k, extra) SELECT o_orderkey, o_orderkey % 5 "
        "FROM cd_raw_orders WHERE o_orderkey % 13 = 2 ORDER BY o_orderkey"
    )
    cat.sql("COMMIT")
    for name in ("cd1", "cd2", "cdrt", "cdrt2", "cdtx"):
        cat.drop_table(name)
    a = snapshot_read(spark, t1).select(
        F.lit("ctas1").alias("part"), "k", "cat", "total",
        F.lit(None).cast("bigint").alias("extra"),
    )
    b = snapshot_read(spark, t2).select(
        F.lit("ctas2").alias("part"), "k", "cat",
        F.lit(None).cast("double").alias("total"),
        F.lit(None).cast("bigint").alias("extra"),
    )
    c = snapshot_read(spark, t5).select(
        F.lit("rt").alias("part"), "k", "cat",
        F.col("g").cast("double").alias("total"),
        F.lit(None).cast("bigint").alias("extra"),
    )
    d = snapshot_read(spark, t6).select(
        F.lit("txn").alias("part"), "k",
        F.lit(None).cast("string").alias("cat"),
        F.lit(None).cast("double").alias("total"), "extra",
    )
    return (
        a.unionByName(b).unionByName(c).unionByName(d)
        .localCheckpoint(eager=True)
    )


@register(
    "snapshot_mapped_interaction_read",
    oracle="""
        SELECT 'opt' AS leg, o_orderkey AS k, o_custkey AS v,
               CAST(NULL AS VARCHAR) AS tag
        FROM orders WHERE o_orderkey % 7 IN (0, 3)
        UNION ALL
        SELECT 'parts', o_orderkey, o_orderkey + 1, o_orderstatus
        FROM orders WHERE o_orderkey % 11 IN (0, 5)
        UNION ALL
        SELECT 'ctas', o_orderkey, o_orderkey + 1, o_orderstatus
        FROM orders WHERE o_orderkey % 5 = 0
    """,
    tags=("snapshot", "column-mapping", "optimize", "partitioning",
          "ctas", "catalog"),
)
def snapshot_mapped_interaction_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The MAPPED-TABLE INTERACTION class under ONE driver hash gate —
    the round-15 probe hunt's three standing defects plus the round-16
    partitioned-CTAS prelude fix, composed:

    * RENAME COLUMN -> OPTIMIZE -> OPTIMIZE ZORDER BY -> incremental
      append -> incremental zorder: every rewrite goes PHYSICAL, so the
      renamed column's values survive all four generations (the pre-fix
      compactors wrote logical-named files that read back all-NULL —
      the hash catches exactly that); manifest stats stay keyed by the
      frozen physical spelling and the rewritten files stay prunable
      (asserted in-fixture);
    * partition-column RENAME moves the partitioning spec in the same
      commit: a later insert routes per partition value, SHOW
      PARTITIONS sees every generation, SHOW CREATE carries the NEW
      spelling, and the physical-space point prune skips files;
      dangling-reference refusals ride along (DROP of the partition
      column, DROP/RENAME of a GENERATED expression's source);
    * CREATE OR REPLACE ... PARTITIONED BY ... AS SELECT over the
      mapped table runs the full-replace prelude: values read back
      through the mapping (not NULLs) and the carried CHECK refuses a
      violating replacement batch without committing.

    The oracle reconstructs all three legs from the orders table."""
    import shutil

    from ..sources.catalog import load_table
    from ..sources.snapshot_catalog import SnapshotCatalog
    from ..sources import snapshots as S

    base = Path(tempfile.gettempdir()) / (
        f"snap_mapint_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(base, ignore_errors=True)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "mi_raw_orders"
    )
    cat = SnapshotCatalog(spark)
    # --- leg A: rename x compaction x zorder ------------------------
    ta = base / "a"
    cat.sql(
        f"CREATE TABLE mi_a (a bigint, b bigint) USING snapshot "
        f"LOCATION '{ta}'"
    )
    cat.sql(
        "INSERT INTO mi_a SELECT o_orderkey, o_custkey FROM mi_raw_orders "
        "WHERE o_orderkey % 7 = 0 ORDER BY o_orderkey"
    )
    cat.sql("ALTER TABLE mi_a RENAME COLUMN a TO aa")
    cat.sql("OPTIMIZE mi_a")                      # compaction rewrite
    cat.sql("OPTIMIZE mi_a ZORDER BY (aa, b)")    # full zorder rewrite
    cat.sql(
        "INSERT INTO mi_a SELECT o_orderkey, o_custkey FROM mi_raw_orders "
        "WHERE o_orderkey % 7 = 3 ORDER BY o_orderkey"
    )
    S.snapshot_zorder_compact_n(spark, ta, ["aa", "b"], incremental=True)
    m = S._read_manifest(ta, S.current_version(ta))
    hi = cat.sql("SELECT max(aa) AS hi FROM mi_a").first()["hi"]
    if hi is not None:  # empty-lake day: no rows => nothing to prune
        keys = sorted({c for s in (m.get("stats") or {}).values()
                       for c in s if not c.startswith("__")})
        if keys != ["a", "b"]:
            raise RuntimeError(f"rewrite lost physical stats keys: {keys}")
        if not len(S.snapshot_files(ta, [{"aa": (0, hi // 8)}])) < len(
            m["files"]
        ):
            raise RuntimeError("zordered rewrite is unprunable")
    # --- leg B: partition-column rename x routing x refusals --------
    tb = base / "b"
    cat.sql(
        f"CREATE TABLE mi_b (k bigint, part string, "
        f"g bigint GENERATED ALWAYS AS (k + 1)) USING snapshot "
        f"PARTITIONED BY (part) LOCATION '{tb}'"
    )
    cat.sql(
        "INSERT INTO mi_b (k, part) SELECT o_orderkey, o_orderstatus "
        "FROM mi_raw_orders WHERE o_orderkey % 11 = 0 ORDER BY o_orderkey"
    )
    cat.sql("ALTER TABLE mi_b RENAME COLUMN part TO bucket")
    cat.sql(
        "INSERT INTO mi_b (k, bucket) SELECT o_orderkey, o_orderstatus "
        "FROM mi_raw_orders WHERE o_orderkey % 11 = 5 ORDER BY o_orderkey"
    )
    parts = {r[0] for r in cat.sql("SHOW PARTITIONS mi_b").collect()}
    expect_b = {
        r[0] for r in spark.sql(
            "SELECT DISTINCT o_orderstatus FROM mi_raw_orders "
            "WHERE o_orderkey % 11 IN (0, 5)"
        ).collect()
    }
    if parts != expect_b:
        raise RuntimeError(f"renamed spec lost partitions: {parts}")
    if "PARTITIONED BY (bucket)" not in cat.sql(
        "SHOW CREATE TABLE mi_b"
    ).first()[0]:
        raise RuntimeError("SHOW CREATE kept the stale spec spelling")
    mb = S._read_manifest(tb, S.current_version(tb))
    if len(parts) > 1 and not len(
        S.snapshot_files(tb, [{"bucket": (min(parts), min(parts))}])
    ) < len(mb["files"]):
        raise RuntimeError("partition point prune admits every file")
    for probe, exc_pat in (
        ("ALTER TABLE mi_b DROP COLUMN bucket", "partition column"),
        ("ALTER TABLE mi_b DROP COLUMN k", "GENERATED"),
        ("ALTER TABLE mi_b RENAME COLUMN k TO kk", "GENERATED"),
    ):
        try:
            cat.sql(probe)
            raise RuntimeError(f"{probe!r} did not refuse")
        except ValueError as e:
            if exc_pat not in str(e):
                raise RuntimeError(f"{probe!r}: wrong refusal {e}")
    # --- leg C: partitioned CTAS replace over the mapped table ------
    tc = base / "c"
    cat.sql(
        f"CREATE TABLE mi_c (k bigint, val bigint, part string) "
        f"USING snapshot LOCATION '{tc}'"
    )
    cat.sql("INSERT INTO mi_c VALUES (1, 10, 'X')")
    cat.sql("ALTER TABLE mi_c RENAME COLUMN val TO v2")
    cat.sql("ALTER TABLE mi_c ADD CONSTRAINT pos CHECK (v2 > 0)")
    v_before = S.current_version(tc)
    slice_nonempty = spark.sql(
        "SELECT 1 FROM mi_raw_orders WHERE o_orderkey % 5 = 0 LIMIT 1"
    ).count() > 0
    if slice_nonempty:  # empty-lake day: no row exists to violate
        try:
            cat.sql(
                f"CREATE OR REPLACE TABLE mi_c USING snapshot "
                f"PARTITIONED BY (part) LOCATION '{tc}' "
                f"AS SELECT o_orderkey AS k, -1 AS v2, "
                f"o_orderstatus AS part FROM mi_raw_orders "
                f"WHERE o_orderkey % 5 = 0"
            )
            raise RuntimeError("carried CHECK did not fire on CTAS replace")
        except S.SnapshotConstraintViolation:
            pass
        if S.current_version(tc) != v_before:
            raise RuntimeError("refused CTAS replace committed anyway")
    cat.sql(
        f"CREATE OR REPLACE TABLE mi_c USING snapshot "
        f"PARTITIONED BY (part) LOCATION '{tc}' "
        f"AS SELECT o_orderkey AS k, o_orderkey + 1 AS v2, "
        f"o_orderstatus AS part FROM mi_raw_orders "
        f"WHERE o_orderkey % 5 = 0"
    )
    parts_c = {r[0] for r in cat.sql("SHOW PARTITIONS mi_c").collect()}
    expect_c = {
        r[0] for r in spark.sql(
            "SELECT DISTINCT o_orderstatus FROM mi_raw_orders "
            "WHERE o_orderkey % 5 = 0"
        ).collect()
    }
    if parts_c != expect_c:
        raise RuntimeError(f"CTAS replace spec missing: {parts_c}")
    for name in ("mi_a", "mi_b", "mi_c"):
        cat.drop_table(name)
    a = S.snapshot_read(spark, ta).select(
        F.lit("opt").alias("leg"), F.col("aa").alias("k"),
        F.col("b").alias("v"), F.lit(None).cast("string").alias("tag"),
    )
    b = S.snapshot_read(spark, tb).select(
        F.lit("parts").alias("leg"), "k", F.col("g").alias("v"),
        F.col("bucket").alias("tag"),
    )
    c = S.snapshot_read(spark, tc).select(
        F.lit("ctas").alias("leg"), "k", F.col("v2").alias("v"),
        F.col("part").alias("tag"),
    )
    return (
        a.unionByName(b).unionByName(c).localCheckpoint(eager=True)
    )
