"""SQL catalog surface over snapshot tables: the reference's .sql files
(sql_queries/*.sql, the re-targeted athena_queries analogs) run VERBATIM
via SnapshotCatalog.sql() against snapshot-BACKED curated tables, with
results equal to the same SQL over the raw parquet lake."""

from __future__ import annotations

import pytest

from energy_datalake_solution_spark.plans.query_api import (
    list_queries,
    load_query_text,
)
from energy_datalake_solution_spark.sources.catalog import load_table
from energy_datalake_solution_spark.sources.snapshot_catalog import (
    SnapshotCatalog,
)
from energy_datalake_solution_spark.sources.snapshots import (
    snapshot_append,
    snapshot_write,
)

from .conftest import SF_ORACLE

_TABLES = ("customer", "supplier", "nation", "orders", "lineitem")


@pytest.fixture(scope="module")
def snap_catalog(spark, tmp_path_factory):
    """A curated lake: each TPC-H table the reference queries touch,
    committed as a snapshot table and registered through the DDL form."""
    root = tmp_path_factory.mktemp("snap_lake")
    cat = SnapshotCatalog(spark)
    for t in _TABLES:
        snapshot_write(load_table(spark, SF_ORACLE, t), root / t)
        cat.sql(
            f"CREATE TABLE {t} USING snapshot OPTIONS (path '{root / t}')"
        )
    return cat, root


def test_reference_sql_files_run_verbatim(spark, snap_catalog):
    """Every sql_queries/*.sql file — the reference query surface — runs
    UNMODIFIED through the snapshot catalog and matches the same SQL over
    the raw parquet frames."""
    cat, _ = snap_catalog
    assert len(list_queries()) >= 3
    for name in list_queries():
        text = load_query_text(name)
        got = cat.sql(text)
        for t in _TABLES:  # same SQL over the raw lake as the oracle
            load_table(spark, SF_ORACLE, t).createOrReplaceTempView(f"raw_{t}")
        raw_text = text
        for t in _TABLES:
            import re

            raw_text = re.sub(rf"\b{t}\b", f"raw_{t}", raw_text)
        want = spark.sql(raw_text)
        assert got.columns == want.columns, name
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), name


def test_catalog_views_stay_fresh_across_commits(spark, snap_catalog):
    """A snapshot table registered in the catalog reflects NEW commits on
    the next sql() call — the re-registration contract (a view pinned at
    CREATE time would silently serve stale data)."""
    cat, root = snap_catalog
    before = cat.sql("SELECT count(*) AS n FROM nation").first().n
    extra = spark.createDataFrame(
        [(900 + i, f"X{i}", 0, "synthetic") for i in range(3)],
        "n_nationkey long, n_name string, n_regionkey long, n_comment string",
    )
    snapshot_append(extra, root / "nation")
    after = cat.sql("SELECT count(*) AS n FROM nation").first().n
    assert after == before + 3


def test_catalog_version_pinning_and_drop(spark, snap_catalog, tmp_path):
    cat, _ = snap_catalog
    t = tmp_path / "pinned"
    snapshot_write(spark.range(4).selectExpr("id AS k"), t)
    snapshot_append(spark.range(4, 9).selectExpr("id AS k"), t)
    cat.sql(
        f"CREATE TABLE pinned USING snapshot LOCATION '{t}' VERSION AS OF 1"
    )
    assert cat.sql("SELECT count(*) AS n FROM pinned").first().n == 4
    cat.sql(
        f"CREATE OR REPLACE TABLE pinned USING snapshot LOCATION '{t}'"
    )
    assert cat.sql("SELECT count(*) AS n FROM pinned").first().n == 9
    cat.sql("DROP TABLE pinned")
    with pytest.raises(Exception):
        cat.sql("SELECT count(*) FROM pinned").collect()


def test_catalog_reloads_table_recreated_at_same_version(spark, tmp_path):
    """A table dropped and recreated at the same path, outside the
    catalog, that reaches the version the registered view was pinned at
    is a DIFFERENT table: the next sql() call must read the new one, not
    keep serving the view of the old one."""
    import shutil

    cat = SnapshotCatalog(spark)
    t = tmp_path / "recreated"
    snapshot_write(spark.range(3).selectExpr("id AS k"), t)
    cat.sql(f"CREATE TABLE recreated USING snapshot LOCATION '{t}'")
    assert sorted(r.k for r in cat.sql("SELECT k FROM recreated").collect()) \
        == [0, 1, 2]
    shutil.rmtree(t)
    snapshot_write(spark.range(10, 12).selectExpr("id AS k"), t)
    assert (t / "_latest").read_text().strip() == "1"  # same version
    assert sorted(r.k for r in cat.sql("SELECT k FROM recreated").collect()) \
        == [10, 11]


def test_catalog_rejects_duplicates_and_missing_tables(spark, snap_catalog, tmp_path):
    cat, _ = snap_catalog
    with pytest.raises(ValueError, match="already registered"):
        cat.sql(f"CREATE TABLE customer USING snapshot LOCATION '{tmp_path}'")
    with pytest.raises(FileNotFoundError):
        cat.sql(
            f"CREATE TABLE nope USING snapshot LOCATION '{tmp_path / 'void'}'"
        )


def test_catalog_dml_insert_merge_delete_update(spark, tmp_path):
    """The SQL DML subset routes to the transactional library operations:
    INSERT appends, MERGE upserts on the key list, DELETE/UPDATE run the
    MOR range forms, and every statement is visible to the next query."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_write,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "fact"
    snapshot_write(
        spark.range(100).selectExpr("id AS k", "id * 10 AS v"), t,
        stats_cols=["k"], n_files=4,
    )
    cat.sql(f"CREATE TABLE fact USING snapshot LOCATION '{t}'")
    cat.sql("INSERT INTO fact SELECT 1000 AS k, 1 AS v")
    assert cat.sql("SELECT count(*) AS n FROM fact").first().n == 101
    cat.sql("INSERT INTO fact VALUES (2000, 2), (2001, 3)")
    assert cat.sql("SELECT count(*) AS n FROM fact").first().n == 103
    # MERGE: updates k=5, inserts k=5000
    spark.createDataFrame(
        [(5, 555), (5000, 5)], "k long, v long"
    ).createOrReplaceTempView("src_batch")
    cat.sql(
        "MERGE INTO fact USING src_batch ON (k) "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r.k: r.v for r in cat.sql("SELECT * FROM fact").collect()}
    assert got[5] == 555 and got[5000] == 5 and len(got) == 104
    cat.sql("DELETE FROM fact WHERE k BETWEEN 10 AND 19")
    assert cat.sql("SELECT count(*) AS n FROM fact").first().n == 94
    cat.sql("UPDATE fact SET v = v + 1 WHERE k BETWEEN 20 AND 29")
    got = {r.k: r.v for r in cat.sql("SELECT * FROM fact").collect()}
    assert got[20] == 201 and got[25] == 251 and got[30] == 300


def test_catalog_restore_vacuum_history(spark, tmp_path):
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_write,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "audit"
    snapshot_write(spark.range(5).selectExpr("id AS k"), t)
    cat.sql(f"CREATE TABLE audit USING snapshot LOCATION '{t}'")
    cat.sql("INSERT INTO audit SELECT 100 AS k")
    hist = cat.sql("DESCRIBE HISTORY audit")
    ops = [r.op for r in hist.collect()]
    assert ops[0] == "append" and "write" in ops
    assert cat.sql("SELECT count(*) AS n FROM audit").first().n == 6
    cat.sql("RESTORE TABLE audit VERSION AS OF 1")
    assert cat.sql("SELECT count(*) AS n FROM audit").first().n == 5
    # vacuum retains the restored tip; the table still reads
    cat.sql("VACUUM audit RETAIN 1 VERSIONS")
    assert cat.sql("SELECT count(*) AS n FROM audit").first().n == 5
    # a version-pinned registration is read-only
    cat.sql(f"CREATE TABLE audit_v1 USING snapshot LOCATION '{t}' VERSION AS OF 3")
    with pytest.raises(ValueError, match="read-only"):
        cat.sql("INSERT INTO audit_v1 SELECT 1 AS k")


def test_catalog_composes_with_mapping_and_widening(spark, tmp_path):
    """The SQL surface over a column-mapped AND type-widened table:
    SELECT sees logical names at the widened types, INSERT INTO speaks
    logical names (physical translation + upcast happen underneath), and
    MERGE upserts through the same namespace."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_append,
        snapshot_enable_column_mapping,
        snapshot_rename_column,
        snapshot_write,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "dim"
    snapshot_write(
        spark.range(5).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 2).cast("int").alias("v"),
        ),
        t,
    )
    snapshot_enable_column_mapping(spark, t)
    snapshot_rename_column(t, "v", "value")
    # widen through the library (long batch under the logical name)
    snapshot_append(
        spark.createDataFrame([(2**40, 7)], "k long, value long"), t
    )
    cat.sql(f"CREATE TABLE dim USING snapshot LOCATION '{t}'")
    got = cat.sql("SELECT * FROM dim")
    assert set(got.columns) == {"k", "value"}
    assert dict(got.dtypes)["k"] == "bigint"
    assert {r.k for r in got.collect()} == set(range(5)) | {2**40}
    # INSERT through logical names
    cat.sql("INSERT INTO dim SELECT 100 AS k, 9 AS value")
    assert cat.sql("SELECT count(*) AS n FROM dim").first().n == 7
    # MERGE updates one key through the logical namespace
    spark.createDataFrame([(100, 99)], "k long, value long").createOrReplaceTempView(
        "dim_src"
    )
    cat.sql("MERGE INTO dim USING dim_src ON (k)")
    rows = {r.k: r.value for r in cat.sql("SELECT * FROM dim").collect()}
    assert rows[100] == 99 and rows[2**40] == 7 and len(rows) == 7


def test_catalog_read_stream_tails_registered_table(spark, tmp_path):
    """Streaming consumption by catalog NAME: read_stream returns the
    version-offset source over the registered table; a pinned
    registration refuses (no change stream on a frozen snapshot)."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_append,
        snapshot_write,
    )

    cat = SnapshotCatalog(spark)
    t, out, ckpt = tmp_path / "t", tmp_path / "out", tmp_path / "ckpt"
    snapshot_write(spark.range(4).selectExpr("id AS k"), t)
    snapshot_append(spark.range(4, 7).selectExpr("id AS k"), t)
    cat.sql(f"CREATE TABLE ev USING snapshot LOCATION '{t}'")
    q = (
        cat.read_stream("ev")
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(r.k for r in spark.read.parquet(str(out)).collect()) == list(
        range(7)
    )
    cat.sql(f"CREATE TABLE ev_v1 USING snapshot LOCATION '{t}' VERSION AS OF 1")
    with pytest.raises(ValueError, match="no change stream"):
        cat.read_stream("ev_v1")


def test_catalog_select_star_strips_provenance_after_update(spark, tmp_path):
    """r10 ADVICE (high) regression, catalog surface: after the catalog's
    own UPDATE statement (MOR update), SELECT * must not surface the
    reserved provenance columns, and an INSERT INTO t SELECT * FROM t
    round-trip must keep the data schema."""
    from energy_datalake_solution_spark.sources.snapshots import snapshot_read

    t = tmp_path / "orders_t"
    snapshot_write(
        spark.createDataFrame(
            [(i, f"s{i % 3}") for i in range(10)], "k long, status string"
        ),
        t,
    )
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE prov_t USING snapshot OPTIONS (path '{t}')")
    cat.sql("UPDATE prov_t SET status = 'X' WHERE k BETWEEN 2 AND 4")
    got = cat.sql("SELECT * FROM prov_t")
    assert got.columns == ["k", "status"]
    cat.sql("INSERT INTO prov_t SELECT * FROM prov_t")
    after = snapshot_read(spark, t)
    assert after.columns == ["k", "status"]
    assert after.count() == 20


def test_restore_timestamp_iso_literal(spark, tmp_path):
    """r10 ADVICE regression: RESTORE TABLE ... TIMESTAMP AS OF accepts an
    ISO-8601 datetime string (Delta's syntax), not only epoch seconds;
    a non-timestamp string fails with a clear error."""
    import time as _time

    from energy_datalake_solution_spark.sources.snapshots import (
        current_version,
        snapshot_read,
    )

    t = tmp_path / "ts_t"
    snapshot_write(
        spark.createDataFrame([(1, "a")], "k long, v string"), t
    )
    _time.sleep(0.05)
    from datetime import datetime

    cut = datetime.now().isoformat()
    _time.sleep(0.05)
    snapshot_write(spark.createDataFrame([(2, "b")], "k long, v string"), t)
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE ts_t USING snapshot OPTIONS (path '{t}')")
    cat.sql(f"RESTORE TABLE ts_t TIMESTAMP AS OF '{cut}'")
    assert {r.v for r in snapshot_read(spark, t).collect()} == {"a"}
    assert current_version(t) == 3  # restore commits a NEW version
    with pytest.raises(ValueError, match="ISO-8601"):
        cat.sql("RESTORE TABLE ts_t TIMESTAMP AS OF 'not-a-time'")


def test_catalog_describe_detail(spark, tmp_path):
    """DESCRIBE DETAIL reports the manifest's metadata families —
    version, file count, partitioning, bucketing, widened types,
    deletion-vector row count — without opening any data file."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_append,
        snapshot_delete_range_mor,
        snapshot_set_partitioning,
        snapshot_write,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "fact"
    snapshot_write(
        spark.range(100).selectExpr(
            "CAST(id AS int) AS k", "id AS v", "CAST(id % 3 AS string) AS cat"
        ),
        t, stats_cols=["k"], n_files=4,
    )
    snapshot_set_partitioning(t, "cat")
    snapshot_delete_range_mor(spark, t, "k", 0, 4)
    snapshot_append(  # widening: int -> bigint
        spark.createDataFrame([(10**10, 1, "x")], "k long, v long, cat string"),
        t,
    )
    cat.sql(f"CREATE TABLE fact USING snapshot LOCATION '{t}'")
    (d,) = cat.sql("DESCRIBE DETAIL fact").collect()
    assert d.version == 4 and d.n_files == 4 + 1  # 1 routed partition file
    assert d.partitioning == "cat"
    assert d.bucketing is None
    assert '"k": "bigint"' in d.widened_types
    assert d.dv_deleted_rows == 5
    assert d.column_mapping is False


def test_catalog_optimize_compacts_and_zorders(spark, tmp_path):
    """OPTIMIZE routes to snapshot_compact (plain) and
    snapshot_zorder_compact_n (ZORDER BY): contents identical, file count
    collapses, history records the maintenance commit."""
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_append,
        snapshot_write,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "fact"
    snapshot_write(
        spark.range(200).selectExpr("id AS k", "id % 7 AS x", "id % 11 AS y"),
        t, stats_cols=["k"], n_files=4,
    )
    for i in range(5):  # stream-shaped small appends
        snapshot_append(
            spark.createDataFrame([(1000 + i, i, i)], "k long, x long, y long"),
            t,
        )
    cat.sql(f"CREATE TABLE fact USING snapshot LOCATION '{t}'")
    before = cat.sql("SELECT * FROM fact").count()
    cat.sql("OPTIMIZE fact INTO 2 FILES")
    m = _read_manifest(t, current_version(t))
    assert len(m["files"]) == 2 and m["op"] == "compact"
    assert cat.sql("SELECT * FROM fact").count() == before
    cat.sql("OPTIMIZE fact ZORDER BY (x, y)")
    m = _read_manifest(t, current_version(t))
    assert m["op"] in ("zorder", "compact-zorder", "zorder-compact")
    assert cat.sql("SELECT * FROM fact").count() == before
    # every file carries stats for BOTH z-order columns
    assert all(
        "x" in s_ and "y" in s_ for s_ in (m.get("stats") or {}).values()
    )


def test_update_set_expressions_with_commas_and_strings(spark, tmp_path):
    """SET parsing is paren/quote-aware: function-call commas and quoted
    commas don't mis-split; a fragment with no `=` raises clearly."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_write,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "fact"
    snapshot_write(
        spark.range(10).selectExpr(
            "id AS k", "id * 10 AS v", "'a' AS tag"
        ),
        t, stats_cols=["k"], n_files=2,
    )
    cat.sql(f"CREATE TABLE fc USING snapshot LOCATION '{t}'")
    # BETWEEN fast path
    cat.sql(
        "UPDATE fc SET v = greatest(v, 55), tag = concat(tag, ',x') "
        "WHERE k BETWEEN 4 AND 6"
    )
    got = {r.k: (r.v, r.tag) for r in cat.sql("SELECT * FROM fc").collect()}
    assert got[4] == (55, "a,x") and got[6] == (60, "a,x")
    assert got[3] == (30, "a")
    # general-WHERE path
    cat.sql("UPDATE fc SET v = least(v, coalesce(v, 0), 25) WHERE k = 9")
    got = {r.k: r.v for r in cat.sql("SELECT * FROM fc").collect()}
    assert got[9] == 25
    # malformed fragment: clear error, not an unpack traceback
    with pytest.raises(ValueError, match="unsupported SET assignment"):
        cat.sql("UPDATE fc SET v + 1 WHERE k BETWEEN 0 AND 1")


def test_select_level_time_travel(spark, tmp_path):
    """``SELECT ... FROM t VERSION AS OF n`` / ``TIMESTAMP AS OF ts``
    in plain query text pins the read to that commit: both forms work,
    joins against the live view work, a post-append re-read stays
    pinned, and the rewrite leaves non-table identifiers alone."""
    import time

    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_append,
        snapshot_write,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "fact"
    snapshot_write(
        spark.range(10).selectExpr("id AS k", "id * 10 AS v"), t,
        stats_cols=["k"], n_files=2,
    )  # v1
    ts_after_v1 = time.time()
    time.sleep(0.05)
    snapshot_append(
        spark.range(10, 15).selectExpr("id AS k", "id * 10 AS v"), t
    )  # v2
    cat.sql(f"CREATE TABLE tt USING snapshot LOCATION '{t}'")

    assert cat.sql("SELECT count(*) AS n FROM tt").first().n == 15
    assert cat.sql(
        "SELECT count(*) AS n FROM tt VERSION AS OF 1"
    ).first().n == 10
    assert cat.sql(
        f"SELECT count(*) AS n FROM tt TIMESTAMP AS OF {ts_after_v1}"
    ).first().n == 10
    # live-vs-pinned join: rows added since v1
    added = cat.sql(
        "SELECT cur.k FROM tt cur LEFT ANTI JOIN "
        "tt VERSION AS OF 1 old ON cur.k = old.k"
    )
    assert {r.k for r in added.collect()} == {10, 11, 12, 13, 14}
    # a later append must NOT leak into a re-read of the pinned form
    snapshot_append(
        spark.range(100, 103).selectExpr("id AS k", "id * 10 AS v"), t
    )  # v3
    assert cat.sql(
        "SELECT count(*) AS n FROM tt VERSION AS OF 1"
    ).first().n == 10
    assert cat.sql("SELECT count(*) AS n FROM tt").first().n == 18
    # INSERT source sub-query can time travel (self-restore of a row set)
    cat.sql(
        "INSERT INTO tt SELECT k + 1000 AS k, v FROM tt VERSION AS OF 1 "
        "WHERE k < 2"
    )
    got = cat.sql("SELECT count(*) AS n FROM tt").first().n
    assert got == 20
    # ISO-string timestamp form parses (far future resolves to the tip)
    assert cat.sql(
        "SELECT count(*) AS n FROM tt TIMESTAMP AS OF '2099-01-01'"
    ).first().n == 20


def test_alter_table_schema_evolution_ddl(spark, tmp_path):
    """ALTER TABLE ADD/RENAME/DROP COLUMN route to the column-mapping
    metadata commits: old files read unchanged after every step (rename
    is logical-only, added columns read as typed NULLs on old rows,
    dropped columns disappear from reads), and a re-added name cannot
    resurrect dropped bytes."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_write,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "fact"
    snapshot_write(
        spark.range(10).selectExpr("id AS k", "id * 10 AS v"), t,
        stats_cols=["k"], n_files=2,
    )
    cat.sql(f"CREATE TABLE ev USING snapshot LOCATION '{t}'")
    # ADD: new column, old rows read as NULL, new inserts carry it
    cat.sql("ALTER TABLE ev ADD COLUMN score double")
    cat.sql("INSERT INTO ev VALUES (100, 1, 2.5)")
    got = {r.k: (r.v, r.score) for r in cat.sql("SELECT * FROM ev").collect()}
    assert got[100] == (1, 2.5) and got[3] == (30, None)
    # RENAME: logical-only; data unchanged
    cat.sql("ALTER TABLE ev RENAME COLUMN v TO val")
    got = cat.sql("SELECT k, val FROM ev WHERE k = 3").first()
    assert got.val == 30
    # DROP, then re-ADD with the same name: old bytes must NOT resurrect
    cat.sql("ALTER TABLE ev DROP COLUMN score")
    assert "score" not in cat.sql("SELECT * FROM ev").columns
    cat.sql("ALTER TABLE ev ADD COLUMN score string")
    got = {r.k: r.score for r in cat.sql("SELECT * FROM ev").collect()}
    assert got[100] is None, "re-added column resurrected dropped bytes"
    # decimal-typed add parses the parenthesized type
    cat.sql("ALTER TABLE ev ADD COLUMN amt decimal(10, 2)")
    assert "amt" in cat.sql("SELECT * FROM ev").columns
    # unknown table name falls through to spark.sql and fails there
    with pytest.raises(Exception):
        cat.sql("ALTER TABLE nope ADD COLUMN x int")


def test_ctas_materializes_and_registers(spark, tmp_path):
    """CREATE TABLE ... USING snapshot LOCATION ... AS SELECT
    materializes the query as v1 of a new snapshot table and registers
    it; the source may time-travel; plain CREATE over an existing
    location still requires OR REPLACE."""
    from energy_datalake_solution_spark.sources.snapshots import (
        current_version,
        snapshot_append,
        snapshot_write,
    )

    cat = SnapshotCatalog(spark)
    src = tmp_path / "src"
    snapshot_write(
        spark.range(10).selectExpr("id AS k", "id * 10 AS v"), src,
        stats_cols=["k"], n_files=2,
    )
    cat.sql(f"CREATE TABLE base USING snapshot LOCATION '{src}'")
    dst = tmp_path / "dst"
    cat.sql(
        f"CREATE TABLE derived USING snapshot LOCATION '{dst}' "
        "AS SELECT k, v * 2 AS v2 FROM base WHERE k < 5"
    )
    got = {r.k: r.v2 for r in cat.sql("SELECT * FROM derived").collect()}
    assert got == {i: i * 20 for i in range(5)}
    assert current_version(dst) == 1
    # CTAS over an existing table needs OR REPLACE
    with pytest.raises(ValueError, match="OR REPLACE"):
        cat.sql(
            f"CREATE TABLE derived2 USING snapshot LOCATION '{dst}' "
            "AS SELECT * FROM base"
        )
    # the CTAS source can time-travel
    snapshot_append(
        spark.createDataFrame([(100, 1)], "k long, v long"), src
    )
    dst2 = tmp_path / "dst2"
    cat.sql(
        f"CREATE OR REPLACE TABLE frozen USING snapshot LOCATION '{dst2}' "
        "AS SELECT * FROM base VERSION AS OF 1"
    )
    assert cat.sql("SELECT count(*) AS n FROM frozen").first().n == 10


def test_alter_table_constraint_ddl(spark, tmp_path):
    """ADD CONSTRAINT validates standing data then gates every later
    write; DROP CONSTRAINT lifts the gate."""
    from energy_datalake_solution_spark.sources.snapshots import (
        SnapshotConstraintViolation,
        snapshot_write,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    snapshot_write(
        spark.range(10).selectExpr("id AS k", "id * 10 AS v"), t,
        stats_cols=["k"], n_files=2,
    )
    cat.sql(f"CREATE TABLE ct USING snapshot LOCATION '{t}'")
    cat.sql("ALTER TABLE ct ADD CONSTRAINT v_nonneg CHECK (v >= 0)")
    with pytest.raises(SnapshotConstraintViolation):
        cat.sql("INSERT INTO ct VALUES (100, -1)")
    # a constraint the standing data violates is refused
    with pytest.raises(SnapshotConstraintViolation):
        cat.sql("ALTER TABLE ct ADD CONSTRAINT v_small CHECK (v < 50)")
    cat.sql("ALTER TABLE ct DROP CONSTRAINT v_nonneg")
    cat.sql("INSERT INTO ct VALUES (100, -1)")
    assert cat.sql("SELECT count(*) AS n FROM ct").first().n == 11


def test_named_views_resolve_fresh_per_query(spark, tmp_path):
    """CREATE VIEW stores text re-resolved against the tables' CURRENT
    versions on every query: a view over a snapshot table reflects
    later DML, views can stack, a time-traveling view stays pinned,
    and DROP VIEW removes it."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_append,
        snapshot_write,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    snapshot_write(
        spark.range(10).selectExpr("id AS k", "id * 10 AS v"), t,
        stats_cols=["k"], n_files=2,
    )
    cat.sql(f"CREATE TABLE vt USING snapshot LOCATION '{t}'")
    cat.sql("CREATE VIEW big AS SELECT * FROM vt WHERE v >= 50")
    cat.sql("CREATE VIEW big_count AS SELECT count(*) AS n FROM big")
    assert cat.sql("SELECT n FROM big_count").first().n == 5
    # later DML is visible through the view (text, not a frozen frame)
    cat.sql("INSERT INTO vt VALUES (100, 999)")
    assert cat.sql("SELECT n FROM big_count").first().n == 6
    # a time-traveling view stays pinned
    cat.sql(
        "CREATE VIEW frozen AS SELECT count(*) AS n "
        "FROM vt VERSION AS OF 1"
    )
    snapshot_append(
        spark.createDataFrame([(200, 0)], "k long, v long"), t
    )
    assert cat.sql("SELECT n FROM frozen").first().n == 10
    # name hygiene
    with pytest.raises(ValueError, match="registered TABLE"):
        cat.sql("CREATE VIEW vt AS SELECT 1")
    with pytest.raises(ValueError, match="OR REPLACE"):
        cat.sql("CREATE VIEW big AS SELECT 2")
    cat.sql("CREATE OR REPLACE VIEW big AS SELECT * FROM vt WHERE v < 50")
    assert cat.sql("SELECT count(*) AS n FROM big").first().n == 6
    # a bad view body fails at CREATE, not first use
    with pytest.raises(Exception):
        cat.sql("CREATE VIEW broken AS SELECT nope FROM vt")
    cat.sql("DROP VIEW big_count")
    with pytest.raises(Exception):
        cat.sql("SELECT * FROM big_count")
    cat.sql("DROP VIEW IF EXISTS big_count")  # no-op


def test_failed_create_view_does_not_poison_catalog(spark, tmp_path):
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_write,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    snapshot_write(
        spark.range(5).selectExpr("id AS k", "id AS v"), t, stats_cols=["k"],
        n_files=1,
    )
    cat.sql(f"CREATE TABLE pt USING snapshot LOCATION '{t}'")
    with pytest.raises(Exception):
        cat.sql("CREATE VIEW bad AS SELECT nope FROM pt")
    # catalog still works; the broken view is gone
    assert cat.sql("SELECT count(*) AS n FROM pt").first().n == 5
    with pytest.raises(Exception):
        cat.sql("SELECT * FROM bad")
    # a failed REPLACE keeps the prior definition
    cat.sql("CREATE VIEW ok AS SELECT k FROM pt")
    with pytest.raises(Exception):
        cat.sql("CREATE OR REPLACE VIEW ok AS SELECT nope FROM pt")
    assert cat.sql("SELECT count(*) AS n FROM ok").first().n == 5


def test_copy_into_is_file_granular_idempotent(spark, tmp_path):
    """COPY INTO loads each source file exactly once: a rerun over the
    same directory is a no-op, a new file in the directory loads alone,
    and the ledger commits atomically with the rows (it lives in the
    manifest txns map)."""
    import pandas as pd

    from energy_datalake_solution_spark.sources.snapshots import (
        current_version,
        snapshot_write,
    )

    land = tmp_path / "landing"
    land.mkdir()
    pd.DataFrame({"k": [1, 2], "v": [10, 20]}).to_parquet(land / "a.parquet")
    pd.DataFrame({"k": [3], "v": [30]}).to_parquet(land / "b.parquet")
    t = tmp_path / "t"
    snapshot_write(
        spark.createDataFrame([(0, 0)], "k long, v long"), t, stats_cols=["k"],
        n_files=1,
    )
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE ci USING snapshot LOCATION '{t}'")
    cat.sql(f"COPY INTO ci FROM '{land}' FILEFORMAT = parquet")
    assert cat.sql("SELECT count(*) AS n FROM ci").first().n == 4
    v_after = current_version(t)
    # rerun: no new version, no duplicate rows
    cat.sql(f"COPY INTO ci FROM '{land}' FILEFORMAT = parquet")
    assert current_version(t) == v_after
    assert cat.sql("SELECT count(*) AS n FROM ci").first().n == 4
    # only the NEW file loads on the next run
    pd.DataFrame({"k": [4], "v": [40]}).to_parquet(land / "c.parquet")
    cat.sql(f"COPY INTO ci FROM '{land}' FILEFORMAT = parquet")
    got = {r.k: r.v for r in cat.sql("SELECT * FROM ci").collect()}
    assert got == {0: 0, 1: 10, 2: 20, 3: 30, 4: 40}
    # CSV with FORMAT_OPTIONS
    csvdir = tmp_path / "csvland"
    csvdir.mkdir()
    (csvdir / "d.csv").write_text("k,v\n5,50\n")
    cat.sql(
        f"COPY INTO ci FROM '{csvdir}' FILEFORMAT = csv "
        "FORMAT_OPTIONS ('header' = 'true', 'inferSchema' = 'true')"
    )
    assert cat.sql("SELECT count(*) AS n FROM ci").first().n == 6
    # a Spark-written landing dir carries _SUCCESS / .crc marker files —
    # the directory form must skip them (Spark's own scan convention)
    sparkland = tmp_path / "sparkland"
    sparkland.mkdir()
    pd.DataFrame({"k": [6], "v": [60]}).to_parquet(
        sparkland / "part-00000.parquet"
    )
    (sparkland / "_SUCCESS").write_text("")
    # NOT named after the data file: Hadoop's local FS would pair a
    # matching .crc as that file's checksum sidecar and fail the read
    # on the garbage content — which no real Spark output dir has
    (sparkland / ".part-00099.parquet.crc").write_bytes(b"\x00crc")
    cat.sql(f"COPY INTO ci FROM '{sparkland}' FILEFORMAT = parquet")
    assert cat.sql("SELECT count(*) AS n FROM ci").first().n == 7


def test_time_travel_rewrite_ignores_string_literals(spark, tmp_path):
    """A string literal containing '<table> VERSION AS OF n' is data —
    the rewrite must not touch it — while a real time-travel clause in
    the same statement (including the quoted TIMESTAMP form) still
    pins."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_append,
        snapshot_write,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    snapshot_write(
        spark.range(5).selectExpr("id AS k"), t, stats_cols=["k"], n_files=1,
    )
    cat.sql(f"CREATE TABLE lt USING snapshot LOCATION '{t}'")
    snapshot_append(spark.range(5, 8).selectExpr("id AS k"), t)
    row = cat.sql(
        "SELECT 'lt VERSION AS OF 1' AS s, count(*) AS n "
        "FROM lt VERSION AS OF 1"
    ).first()
    assert row.s == "lt VERSION AS OF 1" and row.n == 5
    # the quoted TIMESTAMP form still rewrites
    assert cat.sql(
        "SELECT count(*) AS n FROM lt TIMESTAMP AS OF '2099-01-01'"
    ).first().n == 8
    # a literal with an ESCAPED quote ('') must not flip quote parity:
    # the time-travel clause after it still rewrites, and the literal
    # round-trips intact
    row = cat.sql(
        "SELECT 'it''s' AS s, count(*) AS n FROM lt VERSION AS OF 1"
    ).first()
    assert row.s == "it's" and row.n == 5
    # ...and a time-travel-shaped pattern INSIDE such a literal stays data
    row = cat.sql(
        "SELECT 'x''y lt VERSION AS OF 1 z' AS s, count(*) AS n FROM lt"
    ).first()
    assert row.s == "x'y lt VERSION AS OF 1 z" and row.n == 8


@pytest.mark.parametrize("mangle", ["lower", "spaces", "newlines", "semi"])
def test_catalog_grammar_tolerates_reformatting(spark, tmp_path, mangle):
    """Every routed statement shape parses under case-folding, extra
    whitespace, newlines between clauses, and trailing semicolons —
    the regex surface must key on structure, not formatting."""
    import re as _re

    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_read,
        snapshot_write,
    )

    def reform(stmt: str) -> str:
        if mangle == "lower":
            # lower-case everything outside single quotes
            parts = _re.split(r"('[^']*')", stmt)
            return "".join(
                p if p.startswith("'") else p.lower() for p in parts
            )
        if mangle == "spaces":
            return _re.sub(r" ", "  ", stmt)
        if mangle == "newlines":
            return stmt.replace(" WHEN ", "\nWHEN ").replace(
                " WHERE ", "\nWHERE "
            ).replace(" SET ", "\nSET ")
        return stmt + " ;"

    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    snapshot_write(
        spark.range(10).selectExpr(
            "id AS k", "id * 10 AS v", "'a' AS tag"
        ),
        t, stats_cols=["k"], n_files=2,
    )
    spark.createDataFrame(
        [(3, 999, "s"), (50, 1, "s")], "k long, v long, tag string"
    ).createOrReplaceTempView("gsrc")
    stmts = [
        f"CREATE TABLE gt USING snapshot LOCATION '{t}'",
        "INSERT INTO gt VALUES (100, 5, 'i')",
        "MERGE INTO gt t USING gsrc s ON t.k = s.k "
        "WHEN MATCHED AND s.v > t.v THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (k, v, tag) "
        "VALUES (s.k, s.v, concat(s.tag, '!')) "
        "WHEN NOT MATCHED BY SOURCE AND t.k = 9 THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET tag = 'stale'",
        "UPDATE gt SET v = greatest(v, 15) WHERE k BETWEEN 0 AND 1",
        "DELETE FROM gt WHERE k = 7 OR k BETWEEN 5 AND 5",
        "DELETE FROM gt WHERE k IN (SELECT k FROM gsrc WHERE v > 500)",
        # gsrc shares column name k with gt: the outer reference MUST be
        # qualified (unqualified k resolves inner-first per SQL scoping,
        # decorrelating the predicate to match-all)
        "UPDATE gt SET v = v + 1 "
        "WHERE EXISTS (SELECT 1 FROM gsrc s WHERE s.k = gt.k AND s.v = 1)",
        "ALTER TABLE gt SET PARTITIONED BY (tag, k)",
        "ALTER TABLE gt ADD CONSTRAINT kc CHECK (k >= 0)",
        "ALTER TABLE gt DROP CONSTRAINT kc",
        "ALTER TABLE gt ADD COLUMN extra double",
        "ALTER TABLE gt RENAME COLUMN extra TO bonus",
        "ALTER TABLE gt DROP COLUMN bonus",
        "REORG TABLE gt APPLY (PURGE)",
        "CREATE VIEW gv AS SELECT k, v FROM gt WHERE v >= 10",
        "DROP VIEW gv",
        "DESCRIBE HISTORY gt",
        "DESCRIBE DETAIL gt",
        "OPTIMIZE gt INTO 2 FILES",
        "VACUUM gt RETAIN 2 VERSIONS",
        # --- round-12 routes under the same mangles ---
        f"CREATE TABLE gt2 (a bigint, b string DEFAULT 'n/a', "
        f"c bigint GENERATED ALWAYS AS (a % 3)) "
        f"USING snapshot LOCATION '{tmp_path / 'gt2'}'",
        "INSERT INTO gt2 SELECT k AS a, tag AS b FROM gt WHERE k <= 2",
        "MERGE WITH SCHEMA EVOLUTION INTO gt2 t USING gsrc2 s "
        "ON t.a = s.a WHEN MATCHED THEN UPDATE SET extra = s.extra "
        "WHEN NOT MATCHED THEN INSERT *",
        "ALTER TABLE gt2 ADD COLUMN note string DEFAULT 'tbd'",
        f"CREATE TABLE gcl SHALLOW CLONE gt2 "
        f"LOCATION '{tmp_path / 'gcl'}'",
        "ALTER TABLE gt2 SET PARTITIONED BY (c)",
        "SHOW PARTITIONS gt2",
        "SHOW CREATE TABLE gt2",
        "OPTIMIZE gt WHERE k BETWEEN 0 AND 2 INTO 1 FILES",
        "VACUUM gt RETAIN 2 VERSIONS DRY RUN",
        "SELECT count(*) AS n FROM table_changes('gt2', 1)",
        # --- round-13 routes under the same mangles ---
        f"CREATE TABLE gid (gk bigint GENERATED ALWAYS AS IDENTITY "
        f"(START WITH 5 INCREMENT BY 2), gv string COMMENT 'payload') "
        f"USING snapshot LOCATION '{tmp_path / 'gid'}'",
        "INSERT INTO gid (gv) VALUES ('p'), ('q')",
        "ALTER TABLE gid ALTER COLUMN gv COMMENT 'fuzzed'",
        "ALTER TABLE gid SET TBLPROPERTIES ('team' = 'ml', 'pii' = 'no')",
        "ALTER TABLE gid UNSET TBLPROPERTIES ('pii')",
        "SHOW TBLPROPERTIES gid",
        "ALTER TABLE gid SYNC IDENTITY",
        "SHOW CREATE TABLE gid",
        "DESCRIBE TABLE gid",
        # a post-hoc write-default change must not rewrite stored rows
        "ALTER TABLE gt2 ALTER COLUMN note SET DEFAULT 'upd'",
        "ALTER TABLE gt2 ALTER COLUMN note DROP DEFAULT",
        f"CREATE TABLE gtr (a bigint NOT NULL) "
        f"USING snapshot LOCATION '{tmp_path / 'gtr'}'",
        "INSERT INTO gtr (a) VALUES (1), (2)",
        "ALTER TABLE gtr ALTER COLUMN a DROP NOT NULL",
        "ALTER TABLE gtr ALTER COLUMN a SET NOT NULL",
        "TRUNCATE TABLE gtr",
    ]
    spark.createDataFrame(
        [(1, 7), (90, 8)], "a long, extra long"
    ).createOrReplaceTempView("gsrc2")
    for stmt in stmts:
        cat.sql(reform(stmt))
    # the round-12 statements' net state: gt2 holds a=0..2 (b from tag,
    # c generated, note defaulted) with a=1's extra updated and a=90
    # inserted by the evolving merge; the clone froze BEFORE note/merge
    got2 = {
        r.a: (r.b, r.c, r.extra, r.note)
        for r in cat.sql("SELECT * FROM gt2").collect()
    }
    assert got2[0] == ("stale", 0, None, "tbd")  # gt's tag was 'stale'
    assert got2[1] == ("stale", 1, 7, "tbd")
    assert got2[90][1] == 0 and got2[90][2] == 8  # c generated on insert
    assert set(got2) == {0, 1, 2, 90}
    # round-13 identity route: the allocator handed the START/INCREMENT
    # grid regardless of formatting
    gid = {r.gk for r in cat.sql("SELECT gk FROM gid").collect()}
    assert gid == {5, 7}, f"{mangle}: {sorted(gid)}"
    # round-13 truncate route: metadata-only delete-all
    assert cat.sql("SELECT count(*) AS n FROM gtr").first().n == 0
    got = {r.k: (r.v, r.tag) for r in snapshot_read(spark, t).collect()}
    # expected state, independent of formatting:
    # start 0..9 (v=k*10, tag a); +insert 100; merge: k=3 updates to
    # 999, k=50 inserts tag 's!', k=9 deletes, others (not in src,
    # not 9) flag stale EXCEPT matched k=3 keeps 'a'; update: k=0 ->
    # greatest(0,15)=15, k=1 -> greatest(10,15)=15; deletes k=5, k=7;
    # IN-subquery delete removes k=3 (gsrc v=999 > 500); EXISTS-
    # subquery update bumps k=50 (gsrc v=1) to v=2
    exp_keys = {0, 1, 2, 4, 6, 8, 50, 100}
    assert set(got) == exp_keys, f"{mangle}: {sorted(got)}"
    assert got[50] == (2, "s!")
    assert got[0][0] == 15 and got[1][0] == 15
    assert got[2] == (20, "stale") and got[100][1] == "stale"


def test_show_tables_and_views(spark, tmp_path):
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_write,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    snapshot_write(
        spark.range(3).selectExpr("id AS k"), t, stats_cols=["k"], n_files=1,
    )
    cat.sql(f"CREATE TABLE st USING snapshot LOCATION '{t}'")
    cat.sql(f"CREATE TABLE st_pin USING snapshot LOCATION '{t}' "
            "VERSION AS OF 1")
    cat.sql("CREATE VIEW sv AS SELECT k FROM st")
    tabs = {r.name: (r.pinned_version, r.current_version)
            for r in cat.sql("SHOW TABLES").collect()}
    assert tabs == {"st": (None, 1), "st_pin": (1, 1)}
    views = {r.name: r.definition for r in cat.sql("SHOW VIEWS").collect()}
    assert views == {"sv": "SELECT k FROM st"}


def test_optimize_zorder_n_columns(spark, tmp_path):
    """OPTIMIZE ... ZORDER BY (a, b, c): three-column Morton layout
    commits with per-file stats for ALL z columns, contents unchanged;
    the 2-column form still routes (shared implementation)."""
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_write,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    snapshot_write(
        spark.range(2000).selectExpr(
            "id AS x", "CAST(id * 37 % 1000 AS LONG) AS y",
            "CAST(id * 91 % 500 AS LONG) AS z", "id AS v"
        ),
        t, stats_cols=["x"], n_files=4,
    )
    cat.sql(f"CREATE TABLE zt USING snapshot LOCATION '{t}'")
    before = cat.sql("SELECT count(*) AS n FROM zt").first().n
    cat.sql("OPTIMIZE zt ZORDER BY (x, y, z) INTO 8 FILES")
    m = _read_manifest(t, current_version(t))
    assert m["op"] == "zorder"
    assert len(m["files"]) == 8
    assert all(
        {"x", "y", "z"} <= set(s_) for s_ in m["stats"].values()
    ), "every z column needs per-file stats"
    assert cat.sql("SELECT count(*) AS n FROM zt").first().n == before
    cat.sql("OPTIMIZE zt ZORDER BY (x, y)")
    assert cat.sql("SELECT count(*) AS n FROM zt").first().n == before
    # single-column ZORDER (Delta accepts it): degenerates to a
    # quantile sort-compact — routes, commits, contents unchanged,
    # and files tile the column in disjoint ranges
    cat.sql("OPTIMIZE zt ZORDER BY (x) INTO 4 FILES")
    m1 = _read_manifest(t, current_version(t))
    assert m1["op"] == "zorder" and len(m1["files"]) == 4
    assert cat.sql("SELECT count(*) AS n FROM zt").first().n == before
    spans = sorted(
        (s_["x"][0], s_["x"][1]) for s_ in m1["stats"].values()
    )
    assert all(
        spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1)
    ), "single-column z-order must sort: file ranges should not overlap"


def test_analyze_backfills_stats_and_enables_pruning(spark, tmp_path):
    """ANALYZE TABLE retrofits per-file stats onto a stats-less table
    (here a CTAS result): before — no pruning (every file admitted);
    after — range reads prune exactly; existing stats for other columns
    survive; data untouched (byte-identical files, one metadata
    commit)."""
    import hashlib

    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_files,
        snapshot_write,
    )

    cat = SnapshotCatalog(spark)
    src = tmp_path / "src"
    snapshot_write(
        spark.range(400).selectExpr("id AS k", "id * 10 AS v"), src,
        stats_cols=["k"], n_files=4,
    )
    cat.sql(f"CREATE TABLE asrc USING snapshot LOCATION '{src}'")
    dst = tmp_path / "dst"
    cat.sql(
        f"CREATE TABLE actas USING snapshot LOCATION '{dst}' "
        "AS SELECT k, v FROM asrc"
    )
    # CTAS result has no stats: conservative full admit
    v0 = current_version(dst)
    n_files = len(_read_manifest(dst, v0)["files"])
    assert len(snapshot_files(dst, [{"k": (0, 0)}])) == n_files
    hashes = {
        f: hashlib.sha256((dst / f).read_bytes()).hexdigest()
        for f in _read_manifest(dst, v0)["files"]
    }
    cat.sql("ANALYZE TABLE actas COMPUTE STATISTICS FOR COLUMNS (k, v)")
    assert current_version(dst) == v0 + 1
    m = _read_manifest(dst, v0 + 1)
    assert set(m["files"]) == set(hashes)
    for f, h in hashes.items():
        assert hashlib.sha256(
            (dst / f).read_bytes()
        ).hexdigest() == h, "ANALYZE must not touch data"
    assert all({"k", "v"} <= set(s_) for s_ in m["stats"].values())
    pruned = snapshot_files(dst, [{"k": (0, 0)}])
    assert len(pruned) < n_files
    got = cat.sql("SELECT count(*) AS n FROM actas").first().n
    assert got == 400


def test_subquery_dml_predicates(spark, tmp_path):
    """DELETE/UPDATE with subquery predicates through the catalog —
    `k IN (SELECT ...)` (the reference's staging-key delete shape as
    SQL), correlated [NOT] EXISTS, empty key sets, NOT IN's NULL
    semantics, time-travel inside the subquery — and the IN form's
    min/max file prune (only files overlapping the key range grow DVs).

    Reference parity: etl-s3-processed-to-redshift.py:73-79 deletes
    staging keys from the warehouse table; here that shape is one SQL
    statement whose subquery Spark plans as a distributed semi-join."""
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_write,
    )

    cat = SnapshotCatalog(spark)
    t, s = tmp_path / "t", tmp_path / "s"
    snapshot_write(
        spark.range(100).selectExpr("id AS k", "id * 2 AS v"),
        t, stats_cols=["k"], n_files=10,
    )
    snapshot_write(
        spark.range(3, 9).selectExpr("id AS x"), s, stats_cols=["x"], n_files=1,
    )
    cat.sql(f"CREATE TABLE sq_t USING snapshot LOCATION '{t}'")
    cat.sql(f"CREATE TABLE sq_s USING snapshot LOCATION '{s}'")

    # uncorrelated IN: deletes keys 3..8, and the key range's min/max
    # prune means only the ONE overlapping file (k 0..9) grows a DV
    cat.sql("DELETE FROM sq_t WHERE k IN (SELECT x FROM sq_s)")
    assert cat.sql("SELECT count(*) AS n FROM sq_t").first().n == 94
    m = _read_manifest(t, current_version(t))
    assert len(m.get("dv", {})) == 1, "IN-subquery bounds must prune files"

    # correlated EXISTS update; assignment re-types to the column's own
    # type (an int literal on a long column must not fork file widths)
    cat.sql(
        "UPDATE sq_t SET v = -1 "
        "WHERE EXISTS (SELECT 1 FROM sq_s WHERE x * 10 = k)"
    )
    assert sorted(
        r.k for r in cat.sql("SELECT * FROM sq_t WHERE v = -1").collect()
    ) == [30, 40, 50, 60, 70, 80]
    assert dict(cat.sql("SELECT * FROM sq_t").dtypes)["v"] == "bigint"

    # correlated NOT EXISTS: keys 90..94 have no x with x+92=k (x 3..8
    # covers 95..100), so they delete; 95..99 survive
    cat.sql(
        "DELETE FROM sq_t WHERE k >= 90 "
        "AND NOT EXISTS (SELECT 1 FROM sq_s WHERE x + 92 = k)"
    )
    assert cat.sql("SELECT count(*) AS n FROM sq_t").first().n == 89

    # empty key set: IN matches nothing, the commit is a no-op state
    cat.sql("DELETE FROM sq_t WHERE k IN (SELECT x FROM sq_s WHERE x > 1e6)")
    assert cat.sql("SELECT count(*) AS n FROM sq_t").first().n == 89

    # NOT IN with a NULL in the key set matches NOTHING (SQL three-
    # valued logic rides Spark's native subquery planning)
    cat.sql(
        "DELETE FROM sq_t WHERE k NOT IN "
        "(SELECT CASE WHEN x = 4 THEN NULL ELSE x END FROM sq_s)"
    )
    assert cat.sql("SELECT count(*) AS n FROM sq_t").first().n == 89

    # time travel inside the subquery: version 1 still has keys 3..8
    cat.sql(
        "UPDATE sq_t SET v = 999 WHERE k IN "
        "(SELECT k FROM sq_t VERSION AS OF 1 WHERE k < 2)"
    )
    assert sorted(
        r.k for r in cat.sql("SELECT * FROM sq_t WHERE v = 999").collect()
    ) == [0, 1]

    # colliding column names: the subquery's relation also has a k, so
    # the outer reference must qualify with the TARGET TABLE NAME
    # (sq_t.k) — the engine aliases the scan to the table so this
    # resolves; an unqualified k would bind inner-first (SQL scoping)
    # and silently decorrelate
    spark.range(88, 90).selectExpr(
        "id AS k", "id AS v"
    ).createOrReplaceTempView("coll_src")
    cat.sql(
        "DELETE FROM sq_t WHERE EXISTS "
        "(SELECT 1 FROM coll_src c WHERE c.k = sq_t.k)"
    )
    survivors = {r.k for r in cat.sql("SELECT k FROM sq_t").collect()}
    assert 88 not in survivors and 89 not in survivors
    assert cat.sql("SELECT count(*) AS n FROM sq_t").first().n == 87


def test_insert_overwrite_and_replace_where(spark, tmp_path, monkeypatch):
    """INSERT INTO ... REPLACE WHERE swaps exactly the predicate's
    region in ONE commit: fully-covered files drop WITHOUT A READ
    (guard-pinned by poisoning the reader — stats containment + zero
    null count prove the drop), boundary files anti-rewrite, untouched
    files carry byte-identical, replacement rows outside the region
    refuse, and INSERT OVERWRITE is the condition-less full replace."""
    import hashlib

    from energy_datalake_solution_spark.sources import snapshots as S
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_write,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    snapshot_write(
        spark.range(100).selectExpr("id AS k", "id * 2 AS v"),
        t, stats_cols=["k"], n_files=10,
    )
    cat.sql(f"CREATE TABLE rw USING snapshot LOCATION '{t}'")
    m1 = _read_manifest(t, 1)
    md5 = {
        f: hashlib.md5((t / f).read_bytes()).hexdigest()
        for f in m1["files"]
    }

    # files covering k 20..39 are FULLY inside the region: both must
    # drop from manifest stats alone — a data read here is a bug
    def _no_read(*a, **kw):
        raise AssertionError(
            "fully-covered REPLACE WHERE must not read data files"
        )

    monkeypatch.setattr(S, "_read_files_with_dv", _no_read)
    cat.sql(
        "INSERT INTO rw REPLACE WHERE k BETWEEN 20 AND 39 "
        "SELECT id AS k, CAST(-id AS LONG) AS v FROM range(20, 40)"
    )
    monkeypatch.undo()
    got = {r.k: r.v for r in cat.sql("SELECT * FROM rw").collect()}
    assert len(got) == 100 and got[25] == -25 and got[19] == 38
    m2 = _read_manifest(t, current_version(t))
    assert m2["op"] == "replace-where"
    carried = [f for f in m2["files"] if f in md5]
    assert len(carried) == 8, "exactly the 8 uncovered files carry"
    for f in carried:
        assert (
            hashlib.md5((t / f).read_bytes()).hexdigest() == md5[f]
        ), "untouched file mutated"

    # boundary replace: region half-covers two files -> anti-rewrite
    cat.sql(
        "INSERT INTO rw REPLACE WHERE k BETWEEN 5 AND 14 "
        "SELECT id AS k, CAST(100 AS LONG) AS v FROM range(5, 15)"
    )
    got = {r.k: r.v for r in cat.sql("SELECT * FROM rw").collect()}
    assert len(got) == 100 and got[5] == 100 and got[4] == 8
    assert got[14] == 100 and got[15] == 30

    # replacement rows outside the region refuse loudly
    with pytest.raises(ValueError, match="satisfy the predicate"):
        cat.sql(
            "INSERT INTO rw REPLACE WHERE k BETWEEN 0 AND 3 "
            "SELECT id AS k, id AS v FROM range(0, 10)"
        )

    # INSERT OVERWRITE: full replace, stats tracking survives
    cat.sql(
        "INSERT OVERWRITE rw SELECT id AS k, id AS v FROM range(7)"
    )
    assert cat.sql("SELECT count(*) AS n FROM rw").first().n == 7
    m = _read_manifest(t, current_version(t))
    assert m["op"] == "overwrite"
    # stats tracking survives the overwrite (empty part files
    # legitimately have no min/max, only a zero row count)
    assert all(
        "k" in s for s in m.get("stats", {}).values() if s["__rows__"]
    )
    assert any("k" in s for s in m.get("stats", {}).values())


def test_merge_with_schema_evolution(spark, tmp_path):
    """MERGE WITH SCHEMA EVOLUTION auto-adds source columns absent from
    the target (Delta's autoMerge / WITH SCHEMA EVOLUTION syntax): the
    add is metadata-only — OLD data files are untouched and read the
    new columns as typed NULLs — while matched rows update and new rows
    insert carrying the new columns. Covers both MERGE forms (the
    UPDATE SET */INSERT * upsert route and the conditional WHEN-clause
    route) plus the library upsert flag, on unmapped AND mapped
    tables."""
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_upsert,
        snapshot_write,
    )

    cat = SnapshotCatalog(spark)

    # --- conditional-merge route, unmapped table -> mapping auto-enables
    t = tmp_path / "t"
    snapshot_write(
        spark.range(6).selectExpr("id AS k", "id * 10 AS v"),
        t, stats_cols=["k"], n_files=2,
    )
    files_before = set(_read_manifest(t, current_version(t))["files"])
    cat.sql(f"CREATE TABLE ev USING snapshot LOCATION '{t}'")
    spark.createDataFrame(
        [(2, 222, "up"), (10, 111, "new")],
        "k long, v long, note string",
    ).createOrReplaceTempView("ev_src")
    cat.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO ev t USING ev_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v, note = s.note "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r.k: (r.v, r.note) for r in cat.sql("SELECT * FROM ev").collect()}
    assert got[2] == (222, "up") and got[10] == (111, "new")
    # untouched old rows read the new column as NULL...
    assert got[0] == (0, None) and got[5] == (50, None)
    m = _read_manifest(t, current_version(t))
    # ...and their files were NOT rewritten (metadata-only evolution;
    # this merge has an update arm so touched files CoW — only the k=2
    # file may differ, the other old file must carry byte-identical)
    assert files_before & set(m["files"]), "evolution must not rewrite all files"
    assert dict(cat.sql("SELECT * FROM ev").dtypes)["note"] == "string"

    # the schema records the column; a later plain merge keeps working
    assert any(c["name"] == "note" for c in m["schema"]["cols"])

    # --- upsert route (UPDATE SET * / INSERT *) with evolution
    t2 = tmp_path / "t2"
    snapshot_write(
        spark.range(4).selectExpr("id AS k", "id AS v"), t2, stats_cols=["k"], n_files=1,
    )
    cat.sql(f"CREATE TABLE ev2 USING snapshot LOCATION '{t2}'")
    spark.createDataFrame(
        [(1, 100, 1.5), (9, 900, 9.5)], "k long, v long, w double"
    ).createOrReplaceTempView("ev2_src")
    cat.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO ev2 USING ev2_src ON (k) "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    got2 = {r.k: (r.v, r.w) for r in cat.sql("SELECT * FROM ev2").collect()}
    assert got2[1] == (100, 1.5) and got2[9] == (900, 9.5)
    assert got2[0] == (0, None)

    # --- WITHOUT the evolution keyword the same merge must not
    # silently evolve: either it raises or the new column stays absent
    t3 = tmp_path / "t3"
    snapshot_write(
        spark.range(3).selectExpr("id AS k", "id AS v"), t3, stats_cols=["k"], n_files=1,
    )
    cat.sql(f"CREATE TABLE ev3 USING snapshot LOCATION '{t3}'")
    try:
        cat.sql(
            "MERGE INTO ev3 t USING ev2_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        assert "w" not in cat.sql("SELECT * FROM ev3").columns
    except Exception:
        pass  # refusing is equally correct (Delta refuses)

    # --- library-level upsert flag on an ALREADY-MAPPED table
    cat.sql("ALTER TABLE ev2 ADD COLUMN tag string")
    batch = spark.createDataFrame(
        [(0, 7, 0.5, "t0", True)],
        "k long, v long, w double, tag string, fresh boolean",
    )
    snapshot_upsert(spark, batch, t2, ["k"], auto_evolve_schema=True)
    got3 = {
        r.k: (r.v, r.w, r.tag, r.fresh)
        for r in cat.sql("SELECT * FROM ev2").collect()
    }
    assert got3[0] == (7, 0.5, "t0", True)
    assert got3[9] == (900, 9.5, None, None)


def test_shallow_clone_show_partitions_show_create(spark, tmp_path):
    """The three metadata SQL routes: CREATE TABLE ... SHALLOW CLONE
    (zero-copy, version/timestamp-pinnable, DV-correct), SHOW PARTITIONS
    (live spec value tuples), SHOW CREATE TABLE (reconstructed DDL with
    partitioning and constraints)."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_delete_range_mor,
        snapshot_write,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    snapshot_write(
        spark.range(20).selectExpr(
            "id AS k", "id * 2 AS v",
            "CASE WHEN id < 10 THEN 'x' ELSE 'y' END AS tag",
        ),
        t, stats_cols=["k"], n_files=2,
    )
    cat.sql(f"CREATE TABLE base USING snapshot LOCATION '{t}'")
    cat.sql("ALTER TABLE base SET PARTITIONED BY (tag)")
    cat.sql("ALTER TABLE base ADD CONSTRAINT pos CHECK (k >= 0)")
    snapshot_delete_range_mor(spark, t, "k", 3, 5)   # DVs must clone
    cat.sql("INSERT INTO base SELECT 100 AS k, 1 AS v, 'z' AS tag")

    # clone at CURRENT version, then diverge the source
    cat.sql(
        f"CREATE TABLE c1 SHALLOW CLONE base LOCATION '{tmp_path / 'c1'}'"
    )
    cat.sql("INSERT INTO base SELECT 200 AS k, 2 AS v, 'z' AS tag")
    assert cat.sql("SELECT count(*) AS n FROM c1").first().n == 18
    assert cat.sql("SELECT count(*) AS n FROM base").first().n == 19
    ks = {r.k for r in cat.sql("SELECT k FROM c1").collect()}
    assert {3, 4, 5}.isdisjoint(ks), "inherited DVs must hold in the clone"
    # writes to the clone never touch the source
    cat.sql("DELETE FROM c1 WHERE k BETWEEN 0 AND 0")
    assert cat.sql("SELECT count(*) AS n FROM base").first().n == 19

    # version-pinned clone: before the DV delete (version 1 = the write)
    cat.sql(
        "CREATE TABLE c2 SHALLOW CLONE base VERSION AS OF 1 "
        f"LOCATION '{tmp_path / 'c2'}'"
    )
    assert cat.sql("SELECT count(*) AS n FROM c2").first().n == 20

    # unknown source / duplicate target refuse
    with pytest.raises(ValueError, match="unknown source"):
        cat.sql(f"CREATE TABLE c3 SHALLOW CLONE nope LOCATION '{tmp_path}'")
    with pytest.raises(ValueError, match="already registered"):
        cat.sql(f"CREATE TABLE c1 SHALLOW CLONE base LOCATION '{tmp_path}'")

    # SHOW PARTITIONS: live value tuples of the spec column
    parts = [r.tag for r in cat.sql("SHOW PARTITIONS base").collect()]
    assert parts == ["x", "y", "z"]
    with pytest.raises(ValueError, match="not partitioned"):
        cat.sql("SHOW PARTITIONS c2")

    # SHOW CREATE TABLE: one createtab_stmt row carrying the essentials
    ddl = cat.sql("SHOW CREATE TABLE base").first().createtab_stmt
    assert "CREATE TABLE base (" in ddl
    assert "k BIGINT" in ddl and "tag STRING" in ddl
    assert "USING snapshot" in ddl
    assert "PARTITIONED BY (tag)" in ddl
    assert f"LOCATION '{t}'" in ddl
    assert "delta.constraints.pos" in ddl and "k >= 0" in ddl


def test_empty_table_ddl_and_column_defaults(spark, tmp_path):
    """CREATE TABLE (cols) USING snapshot commits a v1 schema-only
    manifest (typed empty reads, then normal writers compose); ALTER
    TABLE ADD COLUMN ... DEFAULT backfills per-FILE: files lacking the
    column read the default (old files, later narrow writes), files
    carrying it read stored values including explicit NULLs — through
    the catalog SQL surface (DataSource reads), the library read, DML
    images, and compaction rewrites."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_append,
        snapshot_compact,
        snapshot_read,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"

    # --- empty-table DDL
    cat.sql(
        f"CREATE TABLE emp (k bigint, v double, tag string DEFAULT 'new') "
        f"USING snapshot LOCATION '{t}'"
    )
    empty = cat.sql("SELECT * FROM emp")
    assert empty.columns == ["k", "v", "tag"] and empty.count() == 0
    assert dict(empty.dtypes) == {
        "k": "bigint", "v": "double", "tag": "string"
    }
    # library read agrees
    assert snapshot_read(spark, t).columns == ["k", "v", "tag"]

    # first write: full-width insert; the DEFAULT is write-side inert
    cat.sql("INSERT INTO emp SELECT 1 AS k, 0.5 AS v, 'a' AS tag")
    assert cat.sql("SELECT tag FROM emp").first().tag == "a"
    # a narrow library append omits tag -> its file LACKS the column ->
    # reads back as the write-default 'new'
    snapshot_append(
        spark.createDataFrame([(2, 1.5)], "k long, v double"), t
    )
    got = {r.k: r.tag for r in cat.sql("SELECT k, tag FROM emp").collect()}
    assert got == {1: "a", 2: "new"}
    lib = {r.k: r.tag for r in snapshot_read(spark, t).collect()}
    assert lib == got, "library and DataSource reads must agree"

    # --- ADD COLUMN DEFAULT backfill on a populated table
    t2 = tmp_path / "t2"
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_write,
    )

    snapshot_write(
        spark.range(6).selectExpr("id AS k", "id * 10 AS v"),
        t2, stats_cols=["k"], n_files=2,
    )
    cat.sql(f"CREATE TABLE dft USING snapshot LOCATION '{t2}'")
    cat.sql("ALTER TABLE dft ADD COLUMN score bigint DEFAULT 7")
    # backfill read: every pre-add row shows 7, not NULL
    assert {r.score for r in cat.sql("SELECT score FROM dft").collect()} == {7}
    assert {r.score for r in snapshot_read(spark, t2).collect()} == {7}

    # post-add write with an EXPLICIT NULL: stored values win per-file
    cat.sql("INSERT INTO dft SELECT 100 AS k, 1 AS v, NULL AS score")
    cat.sql("INSERT INTO dft SELECT 101 AS k, 2 AS v, 55 AS score")
    got = {r.k: r.score for r in cat.sql("SELECT k, score FROM dft").collect()}
    assert got[100] is None and got[101] == 55 and got[0] == 7
    lib = {r.k: r.score for r in snapshot_read(spark, t2).collect()}
    assert lib == got

    # DML over the default: predicates see it, images materialize it
    cat.sql("UPDATE dft SET v = v + 1 WHERE score = 7 AND k BETWEEN 0 AND 1")
    got = {r.k: (r.v, r.score) for r in cat.sql("SELECT * FROM dft").collect()}
    assert got[0] == (1, 7) and got[1] == (11, 7) and got[2] == (20, 7)

    # compaction of mixed generations must MATERIALIZE the default,
    # never freeze a NULL for pre-add rows
    snapshot_compact(spark, t2, target_files=1)
    got2 = {r.k: (r.v, r.score) for r in cat.sql("SELECT * FROM dft").collect()}
    assert got2 == got, f"compaction changed visible rows: {got2} != {got}"

    # non-literal defaults refuse loudly at DDL time
    with pytest.raises(ValueError):
        cat.sql("ALTER TABLE dft ADD COLUMN bad bigint DEFAULT rand()")


def test_vacuum_dry_run_optimize_where_table_changes(spark, tmp_path):
    """Three maintenance/CDF SQL routes: VACUUM ... DRY RUN lists
    would-delete files and touches nothing; OPTIMIZE ... WHERE rewrites
    only stats-overlapping files (untouched files byte-identical, table
    contents unchanged); SELECT ... FROM table_changes('t', v1[, v2])
    surfaces the batch change feed with _change_type."""
    import hashlib

    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_write,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    snapshot_write(
        spark.range(100).selectExpr("id AS k", "id * 2 AS v"),
        t, stats_cols=["k"], n_files=4,
    )
    cat.sql(f"CREATE TABLE vt USING snapshot LOCATION '{t}'")
    cat.sql("UPDATE vt SET v = 0 WHERE k BETWEEN 0 AND 4")   # v2
    cat.sql("INSERT INTO vt VALUES (500, 1)")                # v3

    # --- table_changes: v1 -> v2 nets the 5 updated rows
    ch = cat.sql(
        "SELECT _change_type, k, v FROM table_changes('vt', 1, 2) "
        "ORDER BY _change_type, k"
    ).collect()
    types = {r._change_type for r in ch}
    assert types and types <= {
        "insert", "delete", "update_preimage", "update_postimage"
    }
    changed_keys = {r.k for r in ch}
    assert changed_keys == set(range(5))
    # open window (v2 -> tip) sees the insert
    ch2 = cat.sql(
        "SELECT * FROM table_changes('vt', 2) WHERE _change_type = 'insert'"
    ).collect()
    assert {r.k for r in ch2} == {500}

    # --- OPTIMIZE WHERE: only the overlapping file set rewrites
    m = _read_manifest(t, current_version(t))
    before = {
        f: hashlib.md5((t / f).read_bytes()).hexdigest() for f in m["files"]
    }
    rows_before = {
        (r.k, r.v) for r in cat.sql("SELECT * FROM vt").collect()
    }
    cat.sql("OPTIMIZE vt WHERE k BETWEEN 0 AND 30 INTO 1 FILES")
    m2 = _read_manifest(t, current_version(t))
    assert m2["op"] == "compact-where"
    carried = set(before) & set(m2["files"])
    assert carried, "files outside the predicate must carry"
    for f in carried:
        assert hashlib.md5(
            (t / f).read_bytes()
        ).hexdigest() == before[f], "carried file changed bytes"
    assert len(m2["files"]) < len(before) + 1
    rows_after = {
        (r.k, r.v) for r in cat.sql("SELECT * FROM vt").collect()
    }
    assert rows_after == rows_before, "OPTIMIZE WHERE changed contents"

    # WHERE + ZORDER refuse together
    with pytest.raises(ValueError, match="ZORDER"):
        cat.sql("OPTIMIZE vt WHERE k > 0 ZORDER BY (k, v)")

    # --- VACUUM DRY RUN: the compact-where rewrite just orphaned the
    # touched files — DRY RUN lists them and deletes NOTHING
    listed = [
        r.path
        for r in cat.sql("VACUUM vt RETAIN 1 VERSIONS DRY RUN").collect()
    ]
    assert listed, "compact-where must leave reclaimable files"
    for rel in listed:
        assert (t / rel).exists(), "DRY RUN must not delete"
    assert cat.sql("SELECT count(*) AS n FROM vt").first().n == 101
    # the real vacuum then deletes exactly that list
    import energy_datalake_solution_spark.sources.snapshots as S

    deleted = S.snapshot_vacuum(t, keep_versions=1)
    assert sorted(deleted) == sorted(listed)
    assert cat.sql("SELECT count(*) AS n FROM vt").first().n == 101


def test_show_create_table_carries_defaults(spark, tmp_path):
    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    cat.sql(
        f"CREATE TABLE dd (k bigint, tag string DEFAULT 'n/a') "
        f"USING snapshot LOCATION '{t}'"
    )
    ddl = cat.sql("SHOW CREATE TABLE dd").first().createtab_stmt
    assert "tag STRING DEFAULT 'n/a'" in ddl and "k BIGINT" in ddl


def test_generated_columns(spark, tmp_path):
    """GENERATED ALWAYS AS columns: omitted on write -> computed from
    the expression; supplied -> validated (wrong values refuse); compose
    with partition specs (the date-partition-from-timestamp pattern) and
    with MERGE sources; SHOW CREATE TABLE surfaces the clause."""
    from energy_datalake_solution_spark.sources.snapshots import (
        SnapshotConstraintViolation,
        _read_manifest,
        current_version,
        snapshot_read,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    cat.sql(
        f"CREATE TABLE gen (k bigint, v bigint, "
        f"bucket bigint GENERATED ALWAYS AS (k % 4)) "
        f"USING snapshot LOCATION '{t}'"
    )
    # narrow insert: bucket computes
    cat.sql("INSERT INTO gen SELECT id AS k, id * 10 AS v FROM range(8)")
    got = {r.k: r.bucket for r in cat.sql("SELECT k, bucket FROM gen").collect()}
    assert got == {k: k % 4 for k in range(8)}

    # full-width insert with CORRECT values passes; WRONG values refuse
    cat.sql("INSERT INTO gen VALUES (100, 1, 0)")
    with pytest.raises(SnapshotConstraintViolation, match="bucket"):
        cat.sql("INSERT INTO gen VALUES (101, 1, 3)")
    assert cat.sql("SELECT count(*) AS n FROM gen").first().n == 9

    # partition by the generated column: appends route per value
    cat.sql("ALTER TABLE gen SET PARTITIONED BY (bucket)")
    cat.sql("INSERT INTO gen SELECT id AS k, id AS v FROM range(200, 208)")
    parts = [r.bucket for r in cat.sql("SHOW PARTITIONS gen").collect()]
    assert parts == [0, 1, 2, 3]
    m = _read_manifest(t, current_version(t))
    # the partitioned append routed one file set per bucket value with
    # point stats on the spec column
    assert any("bucket" in s for s in (m.get("stats") or {}).values())

    # MERGE source omitting the generated column computes it too
    spark.createDataFrame(
        [(100, 999), (300, 5)], "k long, v long"
    ).createOrReplaceTempView("gen_src")
    cat.sql(
        "MERGE INTO gen t USING gen_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r.k: (r.v, r.bucket) for r in snapshot_read(spark, t).collect()}
    assert got[300] == (5, 0) and got[100] == (999, 0)

    # SHOW CREATE TABLE reconstructs the clause
    ddl = cat.sql("SHOW CREATE TABLE gen").first().createtab_stmt
    assert "bucket BIGINT GENERATED ALWAYS AS (k % 4)" in ddl

    # DEFAULT and GENERATED are mutually exclusive
    with pytest.raises(ValueError, match="mutually exclusive"):
        from energy_datalake_solution_spark.sources.snapshots import (
            snapshot_create_table,
        )

        snapshot_create_table(
            tmp_path / "bad", [("a", "bigint", "1", "a + 1")]
        )


def test_defaults_and_generated_survive_clone_and_replace(spark, tmp_path):
    """Feature interactions: a SHALLOW CLONE of a defaults+generated
    table inherits both behaviors over the INHERITED (absolute-ref)
    files; REPLACE WHERE on the source keeps computing generated values
    for replacement rows and leaves the clone frozen."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_append,
        snapshot_read,
    )

    cat = SnapshotCatalog(spark)
    t, c = tmp_path / "t", tmp_path / "c"
    cat.sql(
        f"CREATE TABLE src (k bigint, v bigint, "
        f"parity bigint GENERATED ALWAYS AS (k % 2)) "
        f"USING snapshot LOCATION '{t}'"
    )
    cat.sql("INSERT INTO src SELECT id AS k, id * 10 AS v FROM range(6)")
    cat.sql("ALTER TABLE src ADD COLUMN tag string DEFAULT 'base'")
    # pre-add files lack tag -> default; clone inherits those files
    cat.sql(f"CREATE TABLE cl SHALLOW CLONE src LOCATION '{c}'")
    got = {r.k: (r.parity, r.tag) for r in cat.sql("SELECT * FROM cl").collect()}
    assert got == {k: (k % 2, "base") for k in range(6)}
    # library read of the clone agrees (absolute-ref footer grouping)
    lib = {r.k: (r.parity, r.tag) for r in snapshot_read(spark, c).collect()}
    assert lib == got

    # REPLACE WHERE on the source: replacement rows must satisfy the
    # generated expression (computed by the narrow append path they
    # flow through? no — REPLACE WHERE takes explicit rows; supply the
    # full width with CORRECT generated values and the defaulted tag)
    cat.sql(
        "INSERT INTO src REPLACE WHERE k BETWEEN 0 AND 2 "
        "SELECT id AS k, CAST(777 AS BIGINT) AS v, id % 2 AS parity, "
        "'new' AS tag FROM range(0, 3)"
    )
    got2 = {r.k: (r.v, r.parity, r.tag) for r in cat.sql("SELECT * FROM src").collect()}
    assert got2[0] == (777, 0, "new") and got2[1] == (777, 1, "new")
    assert got2[5] == (50, 1, "base")
    # the clone is frozen at the pre-replace state
    assert {
        r.k: (r.parity, r.tag) for r in cat.sql("SELECT * FROM cl").collect()
    } == got

    # a narrow append to the clone computes ITS generated column and
    # defaults independently of the source
    snapshot_append(
        spark.createDataFrame([(100, 5)], "k long, v long"), c
    )
    row = {r.k: (r.parity, r.tag) for r in cat.sql("SELECT * FROM cl").collect()}
    assert row[100] == (0, "base")


def test_insert_with_explicit_column_list(spark, tmp_path):
    """INSERT INTO t (cols) VALUES/SELECT: the source maps positionally
    to the LISTED columns; unlisted columns resolve as DEFAULT /
    GENERATED / typed NULL — the narrow-append contract."""
    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    cat.sql(
        f"CREATE TABLE ic (k bigint, v bigint, tag string DEFAULT 'x', "
        f"parity bigint GENERATED ALWAYS AS (k % 2)) "
        f"USING snapshot LOCATION '{t}'"
    )
    cat.sql("INSERT INTO ic (k, v) VALUES (1, 10), (2, 20)")
    cat.sql("INSERT INTO ic (v, k) SELECT 30 AS a, 3 AS b")  # positional!
    got = {
        r.k: (r.v, r.tag, r.parity)
        for r in cat.sql("SELECT * FROM ic").collect()
    }
    assert got == {
        1: (10, "x", 1), 2: (20, "x", 0), 3: (30, "x", 1)
    }
    with pytest.raises(ValueError, match="columns listed"):
        cat.sql("INSERT INTO ic (k, v, tag) VALUES (9, 9)")


def test_generated_columns_recompute_on_update_and_merge(
    spark, tmp_path, monkeypatch
):
    """Round-12 advisory fix: an UPDATE/MERGE that assigns a generated
    column's SOURCE column recomputes the generated expression on the
    update image (Delta's semantics) instead of tripping the
    write-validation constraint on the stale carried value. Covers the
    MOR update path, the forced copy-on-write path, and the MERGE
    UPDATE arm."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_read,
        snapshot_update_where,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    cat.sql(
        f"CREATE TABLE genu (k bigint, v bigint, "
        f"bucket bigint GENERATED ALWAYS AS (k % 4)) "
        f"USING snapshot LOCATION '{t}'"
    )
    cat.sql("INSERT INTO genu SELECT id AS k, id * 10 AS v FROM range(8)")

    # MOR update assigning the source column: bucket recomputes
    cat.sql("UPDATE genu SET k = k + 100 WHERE k = 3")  # 3 -> 103, bucket 3
    got = {r.k: r.bucket for r in snapshot_read(spark, t).collect()}
    assert got[103] == 103 % 4

    # forced copy-on-write path (a zero DV_MAX_DELETED_ROWS) recomputes
    # too (2 -> 101: a key no other row collapses onto, so the assertion
    # discriminates the CoW recompute specifically)
    import energy_datalake_solution_spark.sources.snapshots as S

    with monkeypatch.context() as mp:
        mp.setattr(S, "DV_MAX_DELETED_ROWS", 0)
        snapshot_update_where(spark, t, "k = 2", {"k": "k + 99"})
    got = {r.k: r.bucket for r in snapshot_read(spark, t).collect()}
    assert got[101] == 101 % 4

    # MERGE UPDATE arm assigning the source column
    spark.createDataFrame([(0, 555)], "k long, v long") \
        .createOrReplaceTempView("genu_src")
    cat.sql(
        "MERGE INTO genu t USING genu_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET k = s.v"
    )
    got = {r.k: r.bucket for r in snapshot_read(spark, t).collect()}
    assert got[555] == 555 % 4
    # NOT MATCHED BY SOURCE UPDATE assigning the source column (the
    # soft-delete-with-rekey shape) recomputes too
    cat.sql(
        "MERGE INTO genu t USING genu_src s ON t.k = s.k "
        "WHEN NOT MATCHED BY SOURCE AND t.k = 1 "
        "THEN UPDATE SET k = t.k + 1000"
    )
    got = {r.k: r.bucket for r in snapshot_read(spark, t).collect()}
    assert got[1001] == 1001 % 4
    # a directly-assigned WRONG generated value still refuses
    with pytest.raises(Exception, match="bucket"):
        cat.sql("UPDATE genu SET bucket = 9 WHERE k = 1001")


def test_check_constraint_sees_defaults_for_omitted_columns(spark, tmp_path):
    """Round-12 advisory fix: a CHECK referencing a DEFAULT-ed column
    must evaluate against the default when a narrow batch legally omits
    that column (Delta resolves the default before checking) — and a
    default VIOLATING the check refuses the narrow write too."""
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE dchk (k bigint, v bigint DEFAULT 5) "
        f"USING snapshot LOCATION '{tmp_path / 'ok'}'"
    )
    cat.sql("ALTER TABLE dchk ADD CONSTRAINT pos CHECK (v > 0)")
    # narrow insert omitting v: default 5 satisfies the check
    cat.sql("INSERT INTO dchk (k) VALUES (1)")
    assert cat.sql("SELECT v FROM dchk").first().v == 5

    cat.sql(
        f"CREATE TABLE dbad (k bigint, v bigint DEFAULT -1) "
        f"USING snapshot LOCATION '{tmp_path / 'bad'}'"
    )
    cat.sql("ALTER TABLE dbad ADD CONSTRAINT pos CHECK (v > 0)")
    with pytest.raises(Exception, match="pos"):
        cat.sql("INSERT INTO dbad (k) VALUES (1)")


def test_insert_overwrite_empty_ddl_casts_to_declared_types(spark, tmp_path):
    """Round-12 advisory fix: the first write into an empty-DDL table via
    INSERT OVERWRITE (snapshot_replace_where, condition=None) and via
    snapshot_write casts to the DECLARED column types — a bare SQL
    literal like 0.5 (decimal(1,1)) must not freeze a narrower physical
    type than the declaration."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_read,
        snapshot_write,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    cat.sql(
        f"CREATE TABLE ow (k bigint, amt decimal(10,2)) "
        f"USING snapshot LOCATION '{t}'"
    )
    cat.sql("INSERT OVERWRITE ow VALUES (1, 0.5)")
    sch = {f.name: f.dataType.simpleString()
           for f in snapshot_read(spark, t).schema.fields}
    assert sch["amt"] == "decimal(10,2)"
    # a later append of a wider in-range value works against the
    # declared physical type
    cat.sql("INSERT INTO ow VALUES (2, 12345678.99)")
    vals = sorted(str(r.amt) for r in cat.sql("SELECT amt FROM ow").collect())
    assert vals == ["0.50", "12345678.99"]

    # the library full-replace API applies the same discipline
    t2 = tmp_path / "t2"
    cat.sql(
        f"CREATE TABLE ow2 (k bigint, amt decimal(10,2)) "
        f"USING snapshot LOCATION '{t2}'"
    )
    snapshot_write(spark.sql("SELECT CAST(1 AS bigint) k, 0.5 amt"), t2)
    sch2 = {f.name: f.dataType.simpleString()
            for f in snapshot_read(spark, t2).schema.fields}
    assert sch2["amt"] == "decimal(10,2)"


def test_identity_columns(spark, tmp_path):
    """GENERATED ALWAYS AS IDENTITY: allocation on the start+i*step grid
    with a per-commit high-water mark; explicit supply, UPDATE
    assignment, MERGE INSERT, and full-replace all refuse loudly;
    concurrent allocators never collide (the loser restarts with fresh
    values); DELETE + re-insert never reuses ids."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_append,
        snapshot_merge,
        snapshot_read,
        snapshot_update_where,
        snapshot_write,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    cat.sql(
        f"CREATE TABLE idt (id bigint GENERATED ALWAYS AS IDENTITY "
        f"(START WITH 0 INCREMENT BY 2), v string) "
        f"USING snapshot LOCATION '{t}'"
    )
    cat.sql("INSERT INTO idt (v) VALUES ('a'), ('b'), ('c')")
    ids = sorted(r.id for r in snapshot_read(spark, t).collect())
    assert ids == [0, 2, 4]

    # refusals: explicit value, UPDATE assignment (any identifier
    # case — Spark resolves case-insensitively), MERGE INSERT arm
    with pytest.raises(ValueError, match="IDENTITY"):
        snapshot_append(
            spark.createDataFrame([(9, "x")], "id long, v string"), t
        )
    with pytest.raises(ValueError, match="IDENTITY"):
        snapshot_update_where(spark, t, "v = 'a'", {"id": "99"})
    with pytest.raises(ValueError, match="IDENTITY"):
        snapshot_update_where(spark, t, "v = 'a'", {"ID": "99"})
    # MERGE INSERT arm ALLOCATES identity for inserted rows (Delta
    # parity); a source carrying the identity column refuses
    with pytest.raises(ValueError, match="explicitly"):
        snapshot_merge(
            spark,
            spark.createDataFrame([(9, "z")], "id long, v string"),
            t, ["v"],
        )
    snapshot_merge(
        spark,
        spark.createDataFrame([("z",)], "v string"),
        t, ["v"],
    )
    got = {r.v: r.id for r in snapshot_read(spark, t).collect()}
    assert got["z"] == 6 and len(got) == 4  # allocated past 0,2,4
    # update-only MERGE (no insert arm) is fine and carries ids
    snapshot_merge(
        spark,
        spark.createDataFrame([("a",)], "v string"),
        t, ["v"],
        matched_update={"v": "concat(s.v, '!')"},
        not_matched_insert=False,
    )
    got = {r.v: r.id for r in snapshot_read(spark, t).collect()}
    assert got["a!"] == 0 and len(got) == 4

    # deleted ids never come back: high-water survives DELETE
    cat.sql("DELETE FROM idt WHERE v = 'c'")
    cat.sql("INSERT INTO idt (v) VALUES ('d')")
    ids = sorted(r.id for r in snapshot_read(spark, t).collect())
    assert ids == [0, 2, 6, 8]

    # concurrent allocators: simulate a racer landing between planning
    # and commit — the conflicting append must restart with fresh values
    import threading

    t2 = tmp_path / "t2"
    cat.sql(
        f"CREATE TABLE idr (id bigint GENERATED ALWAYS AS IDENTITY, "
        f"v bigint) USING snapshot LOCATION '{t2}'"
    )
    errs = []

    def writer(lo):
        try:
            snapshot_append(
                spark.range(lo, lo + 50).selectExpr("id AS v"), t2
            )
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(i * 50,)) for i in range(3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    rows = snapshot_read(spark, t2).collect()
    ids = [r.id for r in rows]
    assert len(rows) == 150
    assert len(set(ids)) == 150, "identity collision across writers"
    assert all((i - 1) % 1 == 0 and i >= 1 for i in ids)


def test_alter_column_default_and_sync_identity(spark, tmp_path):
    """ALTER COLUMN SET/DROP DEFAULT changes the WRITE default only:
    rows stored before the change keep reading their own generation's
    value (birth default for pre-add files, materialized write default
    after), and SHOW CREATE TABLE surfaces the current default. ALTER
    TABLE SYNC IDENTITY recomputes the high-water mark from stored
    values (the post-RESTORE repair) but never moves it backward past
    live ids."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_read,
        snapshot_restore,
        snapshot_sync_identity,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "wd"
    cat.sql(
        f"CREATE TABLE wd (k bigint, v string DEFAULT 'old') "
        f"USING snapshot LOCATION '{t}'"
    )
    cat.sql("INSERT INTO wd (k) VALUES (1)")
    cat.sql("ALTER TABLE wd ALTER COLUMN v SET DEFAULT 'new'")
    cat.sql("INSERT INTO wd (k) VALUES (2)")
    cat.sql("ALTER TABLE wd ALTER COLUMN v DROP DEFAULT")
    cat.sql("INSERT INTO wd (k) VALUES (3)")
    got = {r.k: r.v for r in snapshot_read(spark, t).collect()}
    assert got == {1: "old", 2: "new", 3: None}
    ddl = cat.sql("SHOW CREATE TABLE wd").first().createtab_stmt
    assert "DEFAULT" not in ddl
    cat.sql("ALTER TABLE wd ALTER COLUMN v SET DEFAULT 'x'")
    assert "DEFAULT 'x'" in (
        cat.sql("SHOW CREATE TABLE wd").first().createtab_stmt
    )
    # a GENERATED column refuses a DEFAULT
    t2 = tmp_path / "g"
    cat.sql(
        f"CREATE TABLE wg (k bigint, b bigint GENERATED ALWAYS AS (k % 2)) "
        f"USING snapshot LOCATION '{t2}'"
    )
    with pytest.raises(ValueError, match="GENERATED"):
        cat.sql("ALTER TABLE wg ALTER COLUMN b SET DEFAULT 1")

    # SYNC IDENTITY after RESTORE: the freed range re-allocates; without
    # surgery the mark never reissues live ids
    t3 = tmp_path / "si"
    cat.sql(
        f"CREATE TABLE si (id bigint GENERATED ALWAYS AS IDENTITY "
        f"(START WITH 10 INCREMENT BY 10), v string) "
        f"USING snapshot LOCATION '{t3}'"
    )
    cat.sql("INSERT INTO si (v) VALUES ('a'), ('b')")
    cat.sql("INSERT INTO si (v) VALUES ('c')")
    snapshot_restore(t3, 2)  # drops id 30; the mark still says next=3
    cat.sql("ALTER TABLE si SYNC IDENTITY")
    cat.sql("INSERT INTO si (v) VALUES ('d')")
    assert sorted(r.id for r in snapshot_read(spark, t3).collect()) == [
        10, 20, 30
    ]
    # sync on a table whose mark already leads the data: no backward move
    snapshot_sync_identity(spark, t3)
    cat.sql("INSERT INTO si (v) VALUES ('e')")
    assert sorted(r.id for r in snapshot_read(spark, t3).collect()) == [
        10, 20, 30, 40
    ]
    with pytest.raises(ValueError, match="IDENTITY"):
        snapshot_sync_identity(spark, t)  # no identity columns


def test_truncate_and_describe_table(spark, tmp_path):
    """TRUNCATE TABLE / bare DELETE FROM: one metadata-only commit
    listing zero files — schema, constraints, partition spec, and
    identity high-water all survive; CDF reports the wipe as deletes.
    DESCRIBE TABLE surfaces per-column DEFAULT/GENERATED/IDENTITY
    decoration."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_change_feed,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    cat.sql(
        f"CREATE TABLE tr (id bigint GENERATED ALWAYS AS IDENTITY, "
        f"k bigint, v string DEFAULT 'd') USING snapshot LOCATION '{t}'"
    )
    cat.sql("ALTER TABLE tr ADD CONSTRAINT kc CHECK (k >= 0)")
    cat.sql("INSERT INTO tr (k) SELECT id FROM range(5)")       # v3
    cat.sql("TRUNCATE TABLE tr")                                 # v4
    assert cat.sql("SELECT count(*) AS n FROM tr").first().n == 0
    # identity never resets; constraint still enforced
    cat.sql("INSERT INTO tr (k) VALUES (7)")
    row = cat.sql("SELECT id, v FROM tr").first()
    assert row.id == 6 and row.v == "d"
    with pytest.raises(Exception, match="kc"):
        cat.sql("INSERT INTO tr (k) VALUES (-1)")
    # bare DELETE FROM routes to the same fast path
    cat.sql("DELETE FROM tr")
    assert cat.sql("SELECT count(*) AS n FROM tr").first().n == 0
    # the truncate's CDF window reports 5 deletes
    cdf = snapshot_change_feed(spark, t, 3, 4)
    assert cdf.where("_change_type = 'delete'").count() == 5

    desc = {r.col_name: (r.data_type, r.info)
            for r in cat.sql("DESCRIBE TABLE tr").collect()}
    assert desc["id"][1].startswith("GENERATED ALWAYS AS IDENTITY")
    assert desc["v"][1] == "DEFAULT 'd'"
    assert desc["k"] == ("bigint", None)


def test_identity_allocation_in_merge_and_replace(spark, tmp_path):
    """Round-13 extension: MERGE INSERT arms, SQL MERGE, INSERT
    OVERWRITE, and REPLACE WHERE all ALLOCATE identity for their new
    rows from the same high-water protocol as appends — explicit values
    refuse everywhere, updates carry ids, and allocation never reuses a
    value across the mixed writer sequence."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_read,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    cat.sql(
        f"CREATE TABLE mi (id bigint GENERATED ALWAYS AS IDENTITY "
        f"(START WITH 1 INCREMENT BY 1), k bigint, v string) "
        f"USING snapshot LOCATION '{t}'"
    )
    cat.sql("INSERT INTO mi (k, v) VALUES (10, 'a'), (20, 'b')")  # ids 1,2
    spark.createDataFrame(
        [(20, "B"), (30, "c"), (40, "d")], "k long, v string"
    ).createOrReplaceTempView("mi_src")
    # conditional MERGE: one update (id carries), two inserts (allocate)
    cat.sql(
        "MERGE INTO mi t USING mi_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)"
    )
    got = {r.k: (r.id, r.v) for r in snapshot_read(spark, t).collect()}
    assert got[10] == (1, "a") and got[20] == (2, "B")
    assert {got[30][0], got[40][0]} == {3, 4}
    # plain key MERGE (upsert form) allocates for its inserts too
    spark.createDataFrame(
        [(50, "e")], "k long, v string"
    ).createOrReplaceTempView("mi_src2")
    cat.sql("MERGE INTO mi USING mi_src2 ON (k)")
    got = {r.k: r.id for r in snapshot_read(spark, t).collect()}
    assert got[50] == 5
    # REPLACE WHERE: replacement rows allocate fresh ids
    spark.createDataFrame(
        [(10, "A2")], "k long, v string"
    ).createOrReplaceTempView("mi_rep")
    cat.sql(
        "INSERT INTO mi REPLACE WHERE k <= 10 SELECT * FROM mi_rep"
    )
    got = {r.k: r.id for r in snapshot_read(spark, t).collect()}
    assert got[10] == 6 and len(got) == 5
    # INSERT OVERWRITE: full replace, fresh ids past the mark
    cat.sql("INSERT OVERWRITE mi SELECT 99 AS k, 'z' AS v")
    rows = snapshot_read(spark, t).collect()
    assert len(rows) == 1 and rows[0].id == 7 and rows[0].k == 99
    # explicit id in a MERGE source refuses
    spark.createDataFrame(
        [(5, 1, "x")], "id long, k long, v string"
    ).createOrReplaceTempView("mi_bad")
    with pytest.raises(ValueError, match="explicitly"):
        cat.sql(
            "MERGE INTO mi t USING mi_bad s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT *"
        )


def test_not_null_constraints(spark, tmp_path):
    """NOT NULL as a first-class clause: declared in CREATE TABLE
    (composing with DEFAULT), added/dropped via ALTER COLUMN SET/DROP
    NOT NULL (SET validates standing data first, Delta's semantics),
    enforced against explicit NULLs AND against narrow batches that
    omit the column with no default; SHOW CREATE TABLE renders it
    inline, DESCRIBE TABLE decorates it."""
    from energy_datalake_solution_spark.sources.snapshots import (
        SnapshotConstraintViolation,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    cat.sql(
        f"CREATE TABLE nn (k bigint NOT NULL, v string, "
        f"w string NOT NULL DEFAULT 'x') USING snapshot LOCATION '{t}'"
    )
    cat.sql("INSERT INTO nn (k, v) VALUES (1, 'a')")  # w <- default
    with pytest.raises(SnapshotConstraintViolation, match="__not_null_k"):
        cat.sql("INSERT INTO nn (k, v) VALUES (NULL, 'b')")
    with pytest.raises(SnapshotConstraintViolation, match="__not_null_k"):
        cat.sql("INSERT INTO nn (v) VALUES ('c')")  # omitted, no default
    ddl = cat.sql("SHOW CREATE TABLE nn").first().createtab_stmt
    assert "k BIGINT NOT NULL" in ddl
    assert "w STRING NOT NULL DEFAULT 'x'" in ddl
    assert "TBLPROPERTIES" not in ddl  # not-null never leaks as a check

    cat.sql("INSERT INTO nn (k, v) VALUES (2, NULL)")
    with pytest.raises(SnapshotConstraintViolation, match="existing rows"):
        cat.sql("ALTER TABLE nn ALTER COLUMN v SET NOT NULL")
    cat.sql("UPDATE nn SET v = 'fix' WHERE v IS NULL")
    cat.sql("ALTER TABLE nn ALTER COLUMN v SET NOT NULL")
    with pytest.raises(SnapshotConstraintViolation, match="__not_null_v"):
        cat.sql("INSERT INTO nn (k, v) VALUES (3, NULL)")
    cat.sql("ALTER TABLE nn ALTER COLUMN v DROP NOT NULL")
    cat.sql("INSERT INTO nn (k, v) VALUES (3, NULL)")
    desc = {r.col_name: r.info
            for r in cat.sql("DESCRIBE TABLE nn").collect()}
    assert desc["k"] == "NOT NULL" and desc["v"] is None
    assert desc["w"] == "NOT NULL DEFAULT 'x'"


def test_column_comments(spark, tmp_path):
    """COMMENT 'txt' in CREATE TABLE column specs (composing with NOT
    NULL / GENERATED, escaped quotes included) and via ALTER COLUMN
    COMMENT; DESCRIBE TABLE carries a comment column and SHOW CREATE
    TABLE round-trips the clause."""
    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    cat.sql(
        f"CREATE TABLE cm (k bigint NOT NULL COMMENT 'the key', "
        f"v string COMMENT 'it''s text', "
        f"b bigint GENERATED ALWAYS AS (k % 2) COMMENT 'parity') "
        f"USING snapshot LOCATION '{t}'"
    )
    cat.sql("INSERT INTO cm (k, v) VALUES (1, 'a')")
    desc = {r.col_name: (r.info, r.comment)
            for r in cat.sql("DESCRIBE TABLE cm").collect()}
    assert desc["k"] == ("NOT NULL", "the key")
    assert desc["v"][1] == "it's text"
    assert desc["b"] == ("GENERATED ALWAYS AS (k % 2)", "parity")
    cat.sql("ALTER TABLE cm ALTER COLUMN v COMMENT 'renamed doc'")
    ddl = cat.sql("SHOW CREATE TABLE cm").first().createtab_stmt
    assert "k BIGINT NOT NULL COMMENT 'the key'" in ddl
    assert "v STRING COMMENT 'renamed doc'" in ddl
    assert "GENERATED ALWAYS AS (k % 2) COMMENT 'parity'" in ddl
    # the generated expression still computes despite the trailing clause
    assert cat.sql("SELECT b FROM cm").first().b == 1


def test_tblproperties(spark, tmp_path):
    """SET/UNSET TBLPROPERTIES + SHOW TBLPROPERTIES: user key-value
    metadata carried by the manifest — overwrites fold, unrelated
    commits carry it, UNSET ignores missing keys (IF EXISTS
    disposition), SHOW CREATE TABLE includes the pairs, clones inherit,
    RESTORE reverts to the target version's map, and vacuum's
    checkpoint materialization preserves it."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_clone,
        snapshot_restore,
        snapshot_vacuum,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    cat.sql(f"CREATE TABLE tp (k bigint) USING snapshot LOCATION '{t}'")
    cat.sql("INSERT INTO tp VALUES (1)")                              # v2
    cat.sql(
        "ALTER TABLE tp SET TBLPROPERTIES "
        "('owner' = 'data-eng', 'tier' = 'gold')"
    )
    cat.sql("ALTER TABLE tp SET TBLPROPERTIES ('tier' = 'silver')")
    cat.sql("INSERT INTO tp VALUES (2)")  # unrelated commit carries
    props = {r.key: r.value
             for r in cat.sql("SHOW TBLPROPERTIES tp").collect()}
    assert props == {"owner": "data-eng", "tier": "silver"}
    ddl = cat.sql("SHOW CREATE TABLE tp").first().createtab_stmt
    assert "'owner' = 'data-eng'" in ddl and "'tier' = 'silver'" in ddl
    cat.sql("ALTER TABLE tp UNSET TBLPROPERTIES IF EXISTS ('owner', 'nope')")
    props = {r.key: r.value
             for r in cat.sql("SHOW TBLPROPERTIES tp").collect()}
    assert props == {"tier": "silver"}
    # clones inherit the source version's map
    snapshot_clone(t, tmp_path / "c")
    cat.sql(f"CREATE TABLE tpc USING snapshot LOCATION '{tmp_path / 'c'}'")
    assert {r.key: r.value
            for r in cat.sql("SHOW TBLPROPERTIES tpc").collect()} == {
        "tier": "silver"
    }
    # vacuum forces checkpoint materialization of the retained manifest
    snapshot_vacuum(t, keep_versions=1)
    assert {r.key: r.value
            for r in cat.sql("SHOW TBLPROPERTIES tp").collect()} == {
        "tier": "silver"
    }
    # RESTORE to a pre-properties version drops the map
    t2 = tmp_path / "r"
    cat.sql(f"CREATE TABLE tpr (k bigint) USING snapshot LOCATION '{t2}'")
    cat.sql("INSERT INTO tpr VALUES (1)")                             # v2
    cat.sql("ALTER TABLE tpr SET TBLPROPERTIES ('a' = '1')")          # v3
    snapshot_restore(t2, 2)
    assert cat.sql("SHOW TBLPROPERTIES tpr").count() == 0


def test_constraint_enforcement_edge_interactions(spark, tmp_path):
    """Round-13 review regressions pinned: (1) IDENTITY + NOT NULL —
    narrow inserts must succeed (allocation satisfies the constraint;
    enforcement defers checks referencing the not-yet-allocated
    column); (2) declaration order — a generated column may reference a
    LATER-declared defaulted column and narrow inserts still resolve;
    (3) MERGE INSERT arms resolve write defaults and generated
    expressions for unlisted/absent columns exactly like appends;
    (4) mixed-case UPDATE assignments still recompute generated
    columns (Spark resolves identifiers case-insensitively)."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_read,
    )

    cat = SnapshotCatalog(spark)
    # (1) identity + NOT NULL
    t1 = tmp_path / "idnn"
    cat.sql(
        f"CREATE TABLE idnn (id bigint NOT NULL GENERATED ALWAYS AS "
        f"IDENTITY, v string) USING snapshot LOCATION '{t1}'"
    )
    cat.sql("INSERT INTO idnn (v) VALUES ('a'), ('b')")
    assert sorted(r.id for r in snapshot_read(spark, t1).collect()) == [1, 2]

    # (2) generated referencing a later-declared defaulted column
    t2 = tmp_path / "order"
    cat.sql(
        f"CREATE TABLE gord (k bigint, "
        f"g bigint GENERATED ALWAYS AS (d + 1), d bigint DEFAULT 5) "
        f"USING snapshot LOCATION '{t2}'"
    )
    cat.sql("INSERT INTO gord (k) VALUES (1)")
    row = snapshot_read(spark, t2).first()
    assert (row.g, row.d) == (6, 5)

    # (3) merge inserts resolve wdefaults + generated for absent columns
    t3 = tmp_path / "mwd"
    cat.sql(
        f"CREATE TABLE mwd (k bigint, v string DEFAULT 'old', "
        f"par bigint GENERATED ALWAYS AS (k % 2)) "
        f"USING snapshot LOCATION '{t3}'"
    )
    cat.sql("INSERT INTO mwd (k) VALUES (1)")
    cat.sql("ALTER TABLE mwd ALTER COLUMN v SET DEFAULT 'new'")
    spark.createDataFrame([(2,), (3,)], "k long").createOrReplaceTempView(
        "mwd_src"
    )
    cat.sql(
        "MERGE INTO mwd t USING mwd_src s ON t.k = s.k "
        "WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)"
    )
    got = {r.k: (r.v, r.par) for r in snapshot_read(spark, t3).collect()}
    assert got == {1: ("old", 1), 2: ("new", 0), 3: ("new", 1)}

    # (4) mixed-case assignment still triggers generated recompute
    cat.sql("UPDATE mwd SET K = K + 10 WHERE K = 2")
    got = {r.k: r.par for r in snapshot_read(spark, t3).collect()}
    assert got[12] == 0


# ---------------------------------------------------------------------------
# Route pins: for every statement form of the module docstring, which
# ``snapshots.*`` entry point it reaches and the exact text it hands on
# (conditions, assignments, source queries). Entry points that mutate are
# stubbed to record their arguments and return None; the read-only ones
# (change feed, history, TIMESTAMP AS OF resolution) record and run.
# ---------------------------------------------------------------------------

_ROUTE_MUTATORS = (
    "snapshot_add_column", "snapshot_analyze", "snapshot_analyze_blooms",
    "snapshot_append", "snapshot_clone", "snapshot_compact",
    "snapshot_compact_where", "snapshot_copy_into", "snapshot_create_table",
    "snapshot_delete_range_mor", "snapshot_delete_where",
    "snapshot_drop_column", "snapshot_drop_constraint",
    "snapshot_enable_column_mapping", "snapshot_merge", "snapshot_purge_dv",
    "snapshot_rename_column", "snapshot_replace_where", "snapshot_restore",
    "snapshot_set_column_comment", "snapshot_set_column_default",
    "snapshot_set_constraint", "snapshot_set_partitioning",
    "snapshot_set_properties", "snapshot_sync_identity", "snapshot_truncate",
    "snapshot_unset_properties", "snapshot_update_range_mor",
    "snapshot_update_where", "snapshot_upsert", "snapshot_vacuum",
    "snapshot_widen_column", "snapshot_write", "snapshot_zorder_compact_n",
)
_ROUTE_READERS = (
    "snapshot_change_feed", "snapshot_history", "snapshot_version_as_of",
)


def _iso_ts(s: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(s).timestamp()


_ROUTES = {
    # -- registration DDL ---------------------------------------------------
    "create_options": (
        "CREATE TABLE rt_reg USING snapshot OPTIONS (path '<rt>')",
        [("result", None)],
    ),
    "create_pinned": (
        "CREATE OR REPLACE TABLE rt_pin USING snapshot LOCATION '<rt>' "
        "VERSION AS OF 1",
        [("result", None)],
    ),
    "ctas": (
        "CREATE OR REPLACE TABLE rt_ctas USING snapshot PARTITIONED BY (tag) "
        "LOCATION '<rt>' AS SELECT * FROM rt VERSION AS OF 1",
        [("spark.sql", "SELECT * FROM rt__asof_v1"),
         ("snapshot_write", (("df", "k", "v", "tag", "o"), "<rt>"),
          {"partition_by": ["tag"]}),
         ("result", None)],
    ),
    "create_empty": (
        "CREATE TABLE rt_ddl (a bigint NOT NULL DEFAULT 1 + 2 "
        "COMMENT 'it''s', b string GENERATED ALWAYS AS (upper(tag)), "
        "c bigint GENERATED ALWAYS AS IDENTITY (START WITH 5 INCREMENT BY 2), "
        "d decimal(10,2) DEFAULT 0.5) USING snapshot PARTITIONED BY (a) "
        "LOCATION '<rt>' TBLPROPERTIES ('team' = 'ml', "
        "'delta.constraints.pos' = 'a > 0')",
        [("spark.sql", "SELECT (1 + 2) AS v"),
         ("snapshot_create_table", ("<rt>", [
             ("a", "bigint", "3", None, None, True, "it's", "1 + 2"),
             ("b", "string", None, "upper(tag)", None, False, None, None),
             ("c", "bigint", None, None, {"start": 5, "step": 2}, False,
              None, None),
             ("d", "decimal(10,2)", "0.5", None, None, False, None, None),
         ]), {}),
         ("snapshot_set_partitioning", ("<rt>", ["a"]), {}),
         ("snapshot_set_constraint", ("<rt>", "pos", "a > 0"), {}),
         ("snapshot_set_properties", ("<rt>", {"team": "ml"}), {}),
         ("result", None)],
    ),
    "create_empty_location_first": (
        "CREATE TABLE rt_ddl2 (a bigint) USING snapshot LOCATION '<rt>' "
        "PARTITIONED BY (a)",
        [("snapshot_create_table",
          ("<rt>", [("a", "bigint", None, None, None, False, None, None)]),
          {}),
         ("snapshot_set_partitioning", ("<rt>", ["a"]), {}),
         ("result", None)],
    ),
    "shallow_clone": (
        "CREATE TABLE rt_cl SHALLOW CLONE rt VERSION AS OF 1 "
        "LOCATION '<rt>'",
        [("snapshot_clone",
          ("<rt>", "<rt>"),
          {"version": 1, "as_of_ts": None}),
         ("result", None)],
    ),
    "drop_table": (
        ("CREATE TABLE rt_drop USING snapshot LOCATION '<rt>'",
         "DROP TABLE rt_drop", "DROP TABLE IF EXISTS rt_drop"),
        [("result", None),
         ("result", None),
         ("spark.sql", "DROP TABLE IF EXISTS rt_drop"),
         ("result", ())],
    ),
    "views": (
        ("CREATE VIEW rt_v AS SELECT k FROM rt VERSION AS OF 1",
         "CREATE OR REPLACE VIEW rt_v AS SELECT k FROM rt WHERE k > 1",
         "DROP VIEW rt_v", "DROP VIEW IF EXISTS rt_v"),
        [("spark.sql",
          "CREATE OR REPLACE TEMPORARY VIEW rt_v AS SELECT k FROM "
          "rt__asof_v1"),
         ("result", None),
         ("spark.sql",
          "CREATE OR REPLACE TEMPORARY VIEW rt_v AS SELECT k FROM rt "
          "WHERE k > 1"),
         ("result", None),
         ("result", None),
         ("result", None)],
    ),
    # -- DML ----------------------------------------------------------------
    "insert_select": (
        "INSERT INTO rt SELECT * FROM rt_src",
        [("spark.sql", "SELECT * FROM rt_src"),
         ("spark.sql", "SELECT * FROM rt LIMIT 0"),
         ("snapshot_append", (("df", "k", "v", "tag", "o"), "<rt>"), {}),
         ("result", None)],
    ),
    "insert_cols_values": (
        "INSERT INTO rt (k, v) VALUES (1, 2)",
        [("spark.sql", "VALUES (1, 2)"),
         ("snapshot_append", (("df", "k", "v"), "<rt>"), {}),
         ("result", None)],
    ),
    "insert_time_travel": (
        "INSERT INTO rt SELECT * FROM rt VERSION AS OF 1",
        [("spark.sql", "SELECT * FROM rt__asof_v1"),
         ("spark.sql", "SELECT * FROM rt LIMIT 0"),
         ("snapshot_append", (("df", "k", "v", "tag", "o"), "<rt>"), {}),
         ("result", None)],
    ),
    "insert_overwrite": (
        "INSERT OVERWRITE TABLE rt SELECT * FROM rt_src",
        [("spark.sql", "SELECT * FROM rt_src"),
         ("spark.sql", "SELECT * FROM rt LIMIT 0"),
         ("snapshot_replace_where",
          ("<rt>", None, ("df", "k", "v", "tag", "o")),
          {}),
         ("result", None)],
    ),
    "replace_where": (
        "INSERT INTO rt REPLACE WHERE k >= 2 AND tag = 'a' "
        "SELECT * FROM rt_src",
        [("spark.sql", "SELECT * FROM rt_src"),
         ("spark.sql", "SELECT * FROM rt LIMIT 0"),
         ("snapshot_replace_where",
          ("<rt>", "k >= 2 AND tag = 'a'", ("df", "k", "v", "tag", "o")),
          {}),
         ("result", None)],
    ),
    "merge_keys_no_when": (
        "MERGE INTO rt USING rt_src ON (k)",
        [("spark.sql", "SELECT * FROM rt_src"),
         ("snapshot_upsert",
          (("df", "k", "v", "tag", "o"), "<rt>", ["k"]),
          {"auto_evolve_schema": False}),
         ("result", None)],
    ),
    "merge_key_tuple_star": (
        "MERGE INTO rt USING rt_src ON (k, tag) WHEN MATCHED THEN "
        "UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        [("spark.sql", "SELECT * FROM rt_src"),
         ("snapshot_upsert",
          (("df", "k", "v", "tag", "o"), "<rt>", ["k", "tag"]),
          {"auto_evolve_schema": False}),
         ("result", None)],
    ),
    "merge_bare_key_star": (
        "MERGE INTO rt USING rt_src ON k WHEN MATCHED THEN "
        "UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        [("spark.sql", "SELECT * FROM rt_src"),
         ("snapshot_upsert",
          (("df", "k", "v", "tag", "o"), "<rt>", ["k"]),
          {"auto_evolve_schema": False}),
         ("result", None)],
    ),
    "merge_evolve_subquery": (
        "MERGE WITH SCHEMA EVOLUTION INTO rt USING "
        "(SELECT * FROM rt_src WHERE k > 0) ON (k)",
        [("spark.sql", "SELECT * FROM rt_src WHERE k > 0"),
         ("snapshot_upsert",
          (("df", "k", "v", "tag", "o"), "<rt>", ["k"]),
          {"auto_evolve_schema": True}),
         ("result", None)],
    ),
    "merge_when_clauses": (
        "MERGE INTO rt t USING rt_src s ON t.k = s.k "
        "WHEN MATCHED AND s.v > t.v THEN UPDATE SET v = s.v, "
        "tag = concat(s.tag, ',x') "
        "WHEN MATCHED THEN DELETE "
        "WHEN NOT MATCHED AND s.k > 0 THEN INSERT (k, v) "
        "VALUES (s.k, greatest(s.v, 1)) "
        "WHEN NOT MATCHED BY SOURCE AND t.k = 9 THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET tag = 'stale'",
        [("spark.sql", "SELECT * FROM rt_src"),
         ("snapshot_merge",
          (("df", "k", "v", "tag", "o"), "<rt>", ["k"]),
          {"auto_evolve_schema": False,
           "matched_update": {"v": "s.v", "tag": "concat(s.tag, ',x')"},
           "matched_update_condition": "s.v > t.v",
           "matched_delete": True,
           "matched_delete_condition": None,
           "not_matched_insert": True,
           "not_matched_condition": "s.k > 0",
           "not_matched_insert_values": {"k": "s.k",
                                         "v": "greatest(s.v, 1)"},
           "not_matched_by_source_delete": True,
           "not_matched_by_source_condition": "t.k = 9",
           "not_matched_by_source_update": {"tag": "'stale'"},
           "not_matched_by_source_update_condition":
               "NOT coalesce((t.k = 9), false)"}),
         ("result", None)],
    ),
    "merge_delete_first_star": (
        "MERGE INTO rt t USING rt_src s ON t.k = s.k AND t.tag = s.tag "
        "WHEN MATCHED AND s.v < 0 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
        [("spark.sql", "SELECT * FROM rt_src"),
         ("spark.sql", "SELECT * FROM rt LIMIT 0"),
         ("snapshot_merge",
          (("df", "k", "v", "tag", "o"), "<rt>", ["k", "tag"]),
          {"auto_evolve_schema": False,
           "matched_update": {"k": "s.k", "v": "s.v", "tag": "s.tag",
                              "o": "s.o"},
           "matched_update_condition": "NOT coalesce((s.v < 0), false)",
           "matched_delete": True,
           "matched_delete_condition": "s.v < 0",
           "not_matched_insert": True,
           "not_matched_condition": None,
           "not_matched_insert_values": None,
           "not_matched_by_source_delete": False,
           "not_matched_by_source_condition": None,
           "not_matched_by_source_update": None,
           "not_matched_by_source_update_condition": None}),
         ("result", None)],
    ),
    "merge_evolve_when": (
        "MERGE WITH SCHEMA EVOLUTION INTO rt t USING rt_src s "
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
        [("spark.sql", "SELECT * FROM rt_src"),
         ("spark.sql", "SELECT * FROM rt LIMIT 0"),
         ("snapshot_merge",
          (("df", "k", "v", "tag", "o"), "<rt>", ["k"]),
          {"auto_evolve_schema": True,
           "matched_update": {"k": "s.k", "v": "s.v", "tag": "s.tag",
                              "o": "s.o"},
           "matched_update_condition": None,
           "matched_delete": False,
           "matched_delete_condition": None,
           "not_matched_insert": True,
           "not_matched_condition": None,
           "not_matched_insert_values": None,
           "not_matched_by_source_delete": False,
           "not_matched_by_source_condition": None,
           "not_matched_by_source_update": None,
           "not_matched_by_source_update_condition": None}),
         ("result", None)],
    ),
    "delete_between": (
        "DELETE FROM rt WHERE k BETWEEN 1 AND 2000",
        [("snapshot_delete_range_mor", ("<rt>", "k", 1, 2000), {}),
         ("result", None)],
    ),
    "delete_between_signed": (
        "DELETE FROM rt WHERE k BETWEEN -5 AND 3",
        [("snapshot_delete_range_mor", ("<rt>", "k", -5, 3), {}),
         ("result", None)],
    ),
    "delete_between_strings": (
        "DELETE FROM rt WHERE tag BETWEEN 'a' AND 'b'",
        [("snapshot_delete_range_mor", ("<rt>", "tag", "a", "b"), {}),
         ("result", None)],
    ),
    "delete_where": (
        "DELETE FROM rt WHERE o % 7 = 0",
        [("snapshot_delete_where",
          ("<rt>", "o % 7 = 0"),
          {"_prune_region": None, "table_alias": "rt"}),
         ("result", None)],
    ),
    "delete_where_or": (
        "DELETE FROM rt WHERE k = 7 OR k BETWEEN 5 AND 5",
        [("snapshot_delete_where",
          ("<rt>", "k = 7 OR k BETWEEN 5 AND 5"),
          {"_prune_region": None, "table_alias": "rt"}),
         ("result", None)],
    ),
    "delete_in_subquery": (
        "DELETE FROM rt WHERE k IN (SELECT k FROM rt_src WHERE v > 1)",
        [("spark.sql", "SELECT k FROM rt_src WHERE v > 1"),
         ("snapshot_delete_where",
          ("<rt>", "k IN (SELECT k FROM rt_src WHERE v > 1)"),
          {"_prune_region": [{"k": (2, 4)}], "table_alias": "rt"}),
         ("result", None)],
    ),
    "delete_exists": (
        "DELETE FROM rt WHERE EXISTS "
        "(SELECT 1 FROM rt_src s WHERE s.k = rt.k)",
        [("snapshot_delete_where",
          ("<rt>", "EXISTS (SELECT 1 FROM rt_src s WHERE s.k = rt.k)"),
          {"_prune_region": None, "table_alias": "rt"}),
         ("result", None)],
    ),
    "delete_in_time_travel": (
        "DELETE FROM rt WHERE k IN (SELECT k FROM rt VERSION AS OF 1)",
        [("spark.sql", "SELECT k FROM rt__asof_v1"),
         ("snapshot_delete_where",
          ("<rt>", "k IN (SELECT k FROM rt__asof_v1)"),
          {"_prune_region": [{"k": (1, 2)}], "table_alias": "rt"}),
         ("result", None)],
    ),
    "delete_all": (
        "DELETE FROM rt",
        [("snapshot_truncate", ("<rt>",), {}),
         ("result", None)],
    ),
    "delete_where_true": (
        "DELETE FROM rt WHERE true",
        [("snapshot_delete_where",
          ("<rt>", "true"),
          {"_prune_region": None, "table_alias": "rt"}),
         ("result", None)],
    ),
    "delete_where_false": (
        "DELETE FROM rt WHERE false",
        [("snapshot_delete_where",
          ("<rt>", "false"),
          {"_prune_region": None, "table_alias": "rt"}),
         ("result", None)],
    ),
    "delete_where_paren_column": (
        "DELETE FROM rt WHERE (k)",
        [("snapshot_delete_where",
          ("<rt>", "k"),
          {"_prune_region": None, "table_alias": "rt"}),
         ("result", None)],
    ),
    "delete_where_paren_false": (
        "DELETE FROM rt WHERE (false)",
        [("snapshot_delete_where",
          ("<rt>", "false"),
          {"_prune_region": None, "table_alias": "rt"}),
         ("result", None)],
    ),
    "delete_where_no_condition": (
        "DELETE FROM rt WHERE",
        [("raised", "ValueError")],
    ),
    "delete_where_paren_unregistered": (
        "DELETE FROM rt_src WHERE (k)",
        [("raised", "ParseException")],
    ),
    "truncate": (
        "TRUNCATE TABLE rt",
        [("snapshot_truncate", ("<rt>",), {}),
         ("result", None)],
    ),
    "update_between": (
        "UPDATE rt SET v = greatest(v, 55), tag = concat(tag, ',x') "
        "WHERE k BETWEEN 1 AND 2000",
        [("snapshot_update_range_mor",
          ("<rt>", "k", 1, 2000,
           {"v": "greatest(v, 55)", "tag": "concat(tag, ',x')"}),
          {}),
         ("result", None)],
    ),
    "update_between_signed": (
        "UPDATE rt SET v = v + 1 WHERE k BETWEEN -5 AND 3",
        [("snapshot_update_range_mor",
          ("<rt>", "k", -5, 3, {"v": "v + 1"}),
          {}),
         ("result", None)],
    ),
    "update_where": (
        "UPDATE rt SET v = least(v, coalesce(v, 0), 25) WHERE k = 9",
        [("snapshot_update_where",
          ("<rt>", "k = 9", {"v": "least(v, coalesce(v, 0), 25)"}),
          {"_prune_region": None, "table_alias": "rt"}),
         ("result", None)],
    ),
    "update_in_subquery": (
        "UPDATE rt SET tag = 'hit' WHERE k IN (SELECT k FROM rt_src)",
        [("spark.sql", "SELECT k FROM rt_src"),
         ("snapshot_update_where",
          ("<rt>", "k IN (SELECT k FROM rt_src)", {"tag": "'hit'"}),
          {"_prune_region": [{"k": (2, 4)}], "table_alias": "rt"}),
         ("result", None)],
    ),
    # -- maintenance --------------------------------------------------------
    "copy_into": (
        "COPY INTO rt FROM '/no/such/dir' FILEFORMAT = parquet "
        "FORMAT_OPTIONS ('mergeSchema' = 'true')",
        [("snapshot_copy_into",
          ("/no/such/dir", "<rt>"),
          {"fileformat": "parquet",
           "format_options": {"mergeSchema": "true"}}),
         ("result", None)],
    ),
    "restore_version": (
        "RESTORE TABLE rt VERSION AS OF 1",
        [("snapshot_restore", ("<rt>", 1), {}),
         ("result", None)],
    ),
    "restore_timestamp": (
        "RESTORE TABLE rt TIMESTAMP AS OF '2026-01-01 12:00:00'",
        [("snapshot_restore", ("<rt>",),
          {"as_of_ts": _iso_ts("2026-01-01 12:00:00")}),
         ("result", None)],
    ),
    "vacuum": (
        "VACUUM rt",
        [("snapshot_vacuum", ("<rt>",), {"keep_versions": 1}),
         ("result", None)],
    ),
    "vacuum_dry_run": (
        "VACUUM rt RETAIN 2 VERSIONS DRY RUN",
        [("snapshot_vacuum",
          ("<rt>",),
          {"keep_versions": 2, "dry_run": True}),
         ("result", ("path",))],
    ),
    "table_changes": (
        "SELECT count(*) AS n FROM table_changes('rt', 1)",
        [("snapshot_change_feed", ("<rt>", 1, None), {}),
         ("spark.sql", "SELECT count(*) AS n FROM rt__changes_1_tip"),
         ("result", ("n",))],
    ),
    "table_changes_window": (
        "SELECT k FROM table_changes('rt', 1, 2) WHERE k > 0",
        [("snapshot_change_feed", ("<rt>", 1, 2), {}),
         ("spark.sql", "SELECT k FROM rt__changes_1_2 WHERE k > 0"),
         ("result", ("k",))],
    ),
    "analyze_stats": (
        "ANALYZE TABLE rt COMPUTE STATISTICS FOR COLUMNS (k, v)",
        [("snapshot_analyze", ("<rt>", ["k", "v"]), {}),
         ("result", None)],
    ),
    "analyze_blooms": (
        "ANALYZE TABLE rt COMPUTE BLOOM FILTERS FOR COLUMNS (tag)",
        [("snapshot_analyze_blooms", ("<rt>", ["tag"]), {}),
         ("result", None)],
    ),
    "optimize": (
        "OPTIMIZE rt",
        [("snapshot_compact", ("<rt>",), {"target_files": 1}),
         ("result", None)],
    ),
    "optimize_where": (
        "OPTIMIZE rt WHERE k >= 2 INTO 2 FILES",
        [("snapshot_compact_where",
          ("<rt>", "k >= 2"),
          {"target_files": 2}),
         ("result", None)],
    ),
    "optimize_zorder": (
        "OPTIMIZE rt ZORDER BY (k, v) INTO 3 FILES",
        [("snapshot_zorder_compact_n",
          ("<rt>", ["k", "v"]),
          {"n_files": 3}),
         ("result", None)],
    ),
    "reorg": (
        "REORG TABLE rt APPLY (PURGE)",
        [("snapshot_purge_dv", ("<rt>",), {}),
         ("result", None)],
    ),
    # -- schema and property DDL --------------------------------------------
    "set_partitioned_by": (
        "ALTER TABLE rt SET PARTITIONED BY (tag, k)",
        [("snapshot_set_partitioning", ("<rt>", ["tag", "k"]), {}),
         ("result", None)],
    ),
    "clear_partitioning": (
        "ALTER TABLE rt CLEAR PARTITIONING",
        [("snapshot_set_partitioning", ("<rt>", None), {}),
         ("result", None)],
    ),
    "add_constraint": (
        "ALTER TABLE rt ADD CONSTRAINT kc CHECK (k > 0 AND tag <> ')')",
        [("snapshot_set_constraint",
          ("<rt>", "kc", "k > 0 AND tag <> ')'"), {}),
         ("result", None)],
    ),
    "drop_constraint": (
        "ALTER TABLE rt DROP CONSTRAINT kc",
        [("snapshot_drop_constraint", ("<rt>", "kc"), {}),
         ("result", None)],
    ),
    "add_column": (
        "ALTER TABLE rt ADD COLUMN c2 bigint DEFAULT 5",
        [("snapshot_enable_column_mapping", ("<rt>",), {}),
         ("snapshot_add_column",
          ("<rt>", "c2", "bigint"),
          {"default": "5"}),
         ("result", None)],
    ),
    "add_columns": (
        "ALTER TABLE rt ADD COLUMNS (c3 bigint DEFAULT 2 * 4 NOT NULL "
        "COMMENT 'x', c4 string)",
        [("snapshot_enable_column_mapping", ("<rt>",), {}),
         ("spark.sql", "SELECT (2 * 4) AS v"),
         ("snapshot_add_column",
          ("<rt>", "c3", "bigint"),
          {"default": "8"}),
         ("snapshot_set_column_default", ("<rt>", "c3", "2 * 4"), {}),
         ("snapshot_set_column_comment", ("<rt>", "c3", "x"), {}),
         ("snapshot_set_constraint",
          ("<rt>", "__not_null_c3", "c3 IS NOT NULL"),
          {}),
         ("snapshot_add_column",
          ("<rt>", "c4", "string"),
          {"default": None}),
         ("result", None)],
    ),
    "rename_column": (
        "ALTER TABLE rt RENAME COLUMN v TO w",
        [("snapshot_enable_column_mapping", ("<rt>",), {}),
         ("snapshot_rename_column", ("<rt>", "v", "w"), {}),
         ("result", None)],
    ),
    "drop_column": (
        "ALTER TABLE rt DROP COLUMN tag",
        [("snapshot_enable_column_mapping", ("<rt>",), {}),
         ("snapshot_drop_column", ("<rt>", "tag"), {}),
         ("result", None)],
    ),
    "set_default": (
        "ALTER TABLE rt ALTER COLUMN v SET DEFAULT 5",
        [("snapshot_enable_column_mapping", ("<rt>",), {}),
         ("snapshot_set_column_default", ("<rt>", "v", "5"), {}),
         ("result", None)],
    ),
    "drop_default": (
        "ALTER TABLE rt ALTER COLUMN v DROP DEFAULT",
        [("snapshot_enable_column_mapping", ("<rt>",), {}),
         ("snapshot_set_column_default", ("<rt>", "v", None), {}),
         ("result", None)],
    ),
    "set_not_null": (
        "ALTER TABLE rt ALTER COLUMN v SET NOT NULL",
        [("snapshot_set_constraint",
          ("<rt>", "__not_null_v", "v IS NOT NULL"),
          {}),
         ("result", None)],
    ),
    "drop_not_null": (
        "ALTER TABLE rt ALTER COLUMN v DROP NOT NULL",
        [("snapshot_drop_constraint", ("<rt>", "__not_null_v"), {}),
         ("result", None)],
    ),
    "column_comment": (
        "ALTER TABLE rt ALTER COLUMN v COMMENT 'it''s'",
        [("snapshot_enable_column_mapping", ("<rt>",), {}),
         ("snapshot_set_column_comment", ("<rt>", "v", "it's"), {}),
         ("result", None)],
    ),
    "widen": (
        "ALTER TABLE rt ALTER COLUMN v TYPE bigint",
        [("snapshot_widen_column", ("<rt>", "v", "bigint"), {}),
         ("result", None)],
    ),
    "set_tblproperties": (
        "ALTER TABLE rt SET TBLPROPERTIES ('team' = 'ml', 'pii' = 'no')",
        [("snapshot_set_properties",
          ("<rt>", {"team": "ml", "pii": "no"}),
          {}),
         ("result", None)],
    ),
    "unset_tblproperties": (
        "ALTER TABLE rt UNSET TBLPROPERTIES IF EXISTS ('pii')",
        [("snapshot_unset_properties", ("<rt>", ["pii"]), {}),
         ("result", None)],
    ),
    "sync_identity": (
        "ALTER TABLE rt SYNC IDENTITY",
        [("snapshot_sync_identity", ("<rt>",), {}),
         ("result", None)],
    ),
    # -- read-only forms ----------------------------------------------------
    "show_tblproperties": (
        "SHOW TBLPROPERTIES rt",
        [("result", ("key", "value"))],
    ),
    "show_tables": (
        "SHOW TABLES",
        [("result",
          ("name", "location", "pinned_version", "current_version"))],
    ),
    "show_views": (
        "SHOW VIEWS",
        [("result", ("name", "definition"))],
    ),
    "show_partitions": (
        "SHOW PARTITIONS rt",
        [("raised", "ValueError")],
    ),
    "show_create": (
        "SHOW CREATE TABLE rt",
        [("result", ("createtab_stmt",))],
    ),
    "describe_history": (
        "DESCRIBE HISTORY rt",
        [("snapshot_history", ("<rt>",), {}),
         ("result", ("version", "parent", "op", "ts", "n_files"))],
    ),
    "describe_detail": (
        "DESCRIBE DETAIL rt",
        [("result",
          ("name",
           "location",
           "version",
           "n_files",
           "partitioning",
           "bucketing",
           "widened_types",
           "check_constraints",
           "column_mapping",
           "dv_deleted_rows"))],
    ),
    "describe_table": (
        "DESCRIBE TABLE rt",
        [("result", ("col_name", "data_type", "info", "comment"))],
    ),
    "desc": (
        "DESC rt",
        [("result", ("col_name", "data_type", "info", "comment"))],
    ),
    "transaction_rollback": (
        ("BEGIN", "ROLLBACK"),
        [("result", None),
         ("result", None)],
    ),
    "transaction_commit": (
        ("BEGIN TRANSACTION", "COMMIT TRANSACTION"),
        [("result", None),
         ("result", None)],
    ),
    # -- plain SQL ----------------------------------------------------------
    "select_version_as_of": (
        "SELECT count(*) AS n FROM rt VERSION AS OF 1",
        [("spark.sql", "SELECT count(*) AS n FROM rt__asof_v1"),
         ("result", ("n",))],
    ),
    "select_timestamp_as_of": (
        "SELECT count(*) AS n FROM rt TIMESTAMP AS OF '2099-01-01'",
        [("snapshot_version_as_of", ("<rt>", _iso_ts("2099-01-01")), {}),
         ("spark.sql", "SELECT count(*) AS n FROM rt__asof_v2"),
         ("result", ("n",))],
    ),
    "select_unregistered": (
        "SELECT * FROM rt_src",
        [("spark.sql", "SELECT * FROM rt_src"),
         ("result", ("k", "v", "tag", "o"))],
    ),
    "delete_unregistered": (
        "DELETE FROM rt_src WHERE k = 1",
        [("spark.sql", "DELETE FROM rt_src WHERE k = 1"),
         ("raised", "Py4JJavaError")],
    ),
}


@pytest.fixture(scope="module")
def route_cat(spark, tmp_path_factory):
    """A two-version table ``rt`` registered in a catalog, and a source
    view ``rt_src`` of the same shape."""
    rt = tmp_path_factory.mktemp("routes") / "rt"
    schema = "k long, v long, tag string, o long"
    snapshot_write(
        spark.createDataFrame([(1, 10, "a", 7), (2, 20, "b", 8)], schema),
        rt, stats_cols=["k"],
    )
    snapshot_append(spark.createDataFrame([(3, 30, "c", 14)], schema), rt)
    spark.createDataFrame(
        [(2, 25, "b", 8), (4, 40, "d", 21)], schema
    ).createOrReplaceTempView("rt_src")
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE rt USING snapshot LOCATION '{rt}'")
    return cat, str(rt)


@pytest.mark.parametrize("form", sorted(_ROUTES))
def test_statement_routes(spark, route_cat, monkeypatch, form):
    from pyspark.sql import DataFrame, SparkSession

    from energy_datalake_solution_spark.sources import snapshots

    cat, rt = route_cat
    stmts, want = _ROUTES[form]
    if isinstance(stmts, str):
        stmts = (stmts,)
    calls: list = []

    def norm(a):
        if isinstance(a, DataFrame):
            return ("df", *a.columns)
        if str(a) == rt:
            return "<rt>"
        return a

    def stub(name, real):
        def rec(*args, **kw):
            calls.append((
                name,
                tuple(norm(a) for a in args
                      if not isinstance(a, SparkSession)),
                {k: norm(v) for k, v in kw.items()},
            ))
            if real is not None:
                return real(*args, **kw)
            return [] if name == "snapshot_vacuum" else None

        return rec

    for name in _ROUTE_MUTATORS:
        monkeypatch.setattr(snapshots, name, stub(name, None))
    for name in _ROUTE_READERS:
        monkeypatch.setattr(snapshots, name, stub(name, getattr(snapshots, name)))
    real_sql = spark.sql

    def sql(text, *a, **kw):
        calls.append(("spark.sql", text))
        return real_sql(text, *a, **kw)

    monkeypatch.setattr(spark, "sql", sql)
    for stmt in stmts:
        try:
            out = cat.sql(stmt.replace("<rt>", rt))
            calls.append(("result", tuple(out.columns) if out is not None
                          else None))
        except Exception as e:  # the refusal is part of the route
            calls.append(("raised", type(e).__name__))
    assert calls == want


def test_delete_where_false_keeps_every_row(spark, tmp_path):
    """The parser hands WHERE false on as a literal just as it does the
    TRUE of a bare DELETE; only a DELETE with no WHERE truncates."""
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE wf (k bigint) USING snapshot "
            f"LOCATION '{tmp_path / 'wf'}'")
    cat.sql("INSERT INTO wf SELECT id FROM range(4)")
    cat.sql("DELETE FROM wf WHERE false")
    assert cat.sql("SELECT count(*) AS n FROM wf").first().n == 4
    cat.sql("DELETE FROM wf WHERE true")
    assert cat.sql("SELECT count(*) AS n FROM wf").first().n == 0


def test_delete_where_parenthesized_bare_condition(spark, tmp_path):
    """``WHERE (flag)`` and ``WHERE (false)`` delete by predicate, though
    Spark's parser reads WHERE there as a table alias; a column list that
    is no predicate, and a WHERE with no condition, refuse and delete
    nothing."""
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE pw (k bigint, flag boolean) USING snapshot "
            f"LOCATION '{tmp_path / 'pw'}'")
    cat.sql("INSERT INTO pw SELECT id, id % 2 = 0 FROM range(4)")

    def keys():
        return sorted(r.k for r in cat.sql("SELECT k FROM pw").collect())

    cat.sql("DELETE FROM pw WHERE (false)")
    assert keys() == [0, 1, 2, 3]
    cat.sql("DELETE FROM pw WHERE (flag)")
    assert keys() == [1, 3]
    with pytest.raises(Exception):
        cat.sql("DELETE FROM pw WHERE (k, flag)")
    with pytest.raises(ValueError, match="no condition"):
        cat.sql("DELETE FROM pw WHERE")
    assert keys() == [1, 3]


def test_select_where_parenthesized_bare_condition(spark, tmp_path):
    """``SELECT ... FROM t WHERE (flag)`` filters by ``flag``, though
    Spark's parser reads WHERE there as t's alias and ``(flag)`` as its
    column list: a registered table returned every row unfiltered. The
    same holds under time travel and inside a subquery."""
    from energy_datalake_solution_spark.sources.snapshots import (
        current_version,
    )

    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE sw (flag boolean) USING snapshot "
            f"LOCATION '{tmp_path / 'sw'}'")
    cat.sql("INSERT INTO sw VALUES (true), (false), (false)")
    v = current_version(tmp_path / "sw")
    for q in ("SELECT * FROM sw WHERE (flag)",
              "SELECT * FROM sw where(flag)",
              f"SELECT * FROM sw VERSION AS OF {v} WHERE (flag)",
              "SELECT * FROM (SELECT * FROM sw WHERE (flag)) x"):
        assert [r.flag for r in cat.sql(q).collect()] == [True], q
    assert cat.sql("SELECT * FROM sw WHERE flag").count() == 1


def test_parser_refusal_is_quiet(spark, tmp_path, capfd):
    """A statement the parser rejects raises; pyspark's JSON ERROR
    record of the parse failure (written for a refusal that carries a
    query context) does not reach stderr."""
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE qr (k bigint) USING snapshot "
            f"LOCATION '{tmp_path / 'qr'}'")
    capfd.readouterr()
    with pytest.raises(ValueError, match="NOT NULL"):
        cat.sql("ALTER TABLE qr ADD COLUMN c bigint NOT NULL NOT NULL")
    assert "SQLQueryContextLogger" not in capfd.readouterr().err


def test_time_travel_rewrites_only_parsed_relations(spark, tmp_path):
    """``VERSION AS OF`` and ``table_changes(...)`` rewrite only the
    relations Spark's parser finds: text inside a double-quoted string
    literal stays data, and a backticked table name time-travels like a
    bare one."""
    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    snapshot_write(spark.range(5).selectExpr("id AS k"), t)
    snapshot_append(spark.range(5, 8).selectExpr("id AS k"), t)
    cat.sql(f"CREATE TABLE dq USING snapshot LOCATION '{t}'")
    assert cat.sql('SELECT "dq VERSION AS OF 1" AS s').first().s == (
        "dq VERSION AS OF 1"
    )
    assert cat.sql("SELECT \"table_changes('dq', 1)\" AS s").first().s == (
        "table_changes('dq', 1)"
    )
    assert cat.sql(
        "SELECT count(*) AS n FROM `dq` VERSION AS OF 1"
    ).first().n == 5


def test_show_create_reexecutes_with_reserved_property_keys(spark, tmp_path):
    """Spark's parser reserves owner, location, provider and comment as
    property keys. SET TBLPROPERTIES stores them as user metadata, and
    the DDL SHOW CREATE TABLE writes for such a table re-executes, a
    CHECK with a quoted literal included."""
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE rk (k bigint) USING snapshot "
        f"LOCATION '{tmp_path / 'a'}'"
    )
    cat.sql("ALTER TABLE rk ADD CONSTRAINT pos CHECK (k > 0 OR 'a' = 'b')")
    cat.sql("ALTER TABLE rk SET TBLPROPERTIES ('owner' = 'it''s me')")
    ddl = cat.sql("SHOW CREATE TABLE rk").first().createtab_stmt
    cat.sql(
        ddl.replace("TABLE rk", "TABLE rk2").replace(
            str(tmp_path / "a"), str(tmp_path / "b")
        )
    )
    assert {r.key: r.value for r in cat.sql("SHOW TBLPROPERTIES rk2").collect()} == {
        "owner": "it's me"
    }
    assert cat.sql("DESCRIBE DETAIL rk2").first().check_constraints == (
        '{"pos": "k > 0 OR \'a\' = \'b\'"}'
    )
