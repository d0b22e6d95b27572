"""Round-15 governance fixes, pinned.

1. ADD COLUMN[S] pre-validation is COMPLETE: every refusal — including
   the dynamic ones (DEFAULT fold failure, NOT NULL whose expression
   default folds to NULL, name collisions against the live schema and
   within the statement) — fires before ANY spec commits, so a
   multi-column statement can never leave the table half-altered.
2. _fold_default rejects scalar subqueries (Spark/Delta restrict
   column DEFAULTs to subquery-free constant expressions; the fold
   would otherwise freeze arbitrary catalog state as the birth default
   and re-run the subquery on every narrow write).
3. The layout forms of snapshot_write honor the row-creating
   invariants of its plain form: with ``stats_cols`` it routes
   identity tables to the allocating replace_where (keeping the range
   layout and per-file stats) and materializes write defaults on
   mapped tables; with ``zorder_by`` it routes identity tables after
   arranging; with ``bloom_cols`` it routes and then backfills its
   filters via snapshot_analyze_blooms.
4. snapshot_upsert_partitioned refuses identity tables (its rewrite
   loop has no per-rebase allocation) and materializes write defaults
   and generated columns for narrow batches.
5. Infix-operator expression DEFAULTs (``DEFAULT 1 + 2``) parse, fold,
   and split correctly at clause keywords.
6. ANALYZE TABLE ... COMPUTE BLOOM FILTERS FOR COLUMNS backfills
   point-lookup pruning onto bloomless tables as a metadata-only
   commit (the bloom twin of snapshot_analyze).
"""
import pytest

from energy_datalake_solution_spark.sources.snapshot_catalog import (
    SnapshotCatalog,
)
from energy_datalake_solution_spark.sources.snapshots import (
    snapshot_files,
    snapshot_read,
    snapshot_upsert_partitioned,
    snapshot_write,
)


def _cols(spark, cat, name):
    return [r["col_name"] for r in cat.sql(f"DESCRIBE {name}").collect()]


# ---------------------------------------------------------------------------
# 1. ADD COLUMN[S] atomicity for DYNAMIC refusals
# ---------------------------------------------------------------------------

@pytest.fixture
def ddl_table(spark, tmp_path):
    t = tmp_path / "t"
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE addt (k bigint, v string) USING snapshot "
        f"LOCATION '{t}'"
    )
    cat.sql("INSERT INTO addt VALUES (1, 'a'), (2, 'b')")
    return cat, t


def test_add_columns_duplicate_within_statement_is_atomic(ddl_table, spark):
    cat, t = ddl_table
    with pytest.raises(ValueError, match="already exists"):
        cat.sql("ALTER TABLE addt ADD COLUMNS (x bigint, x string)")
    assert _cols(spark, cat, "addt") == ["k", "v"]  # nothing landed


def test_add_columns_existing_name_in_later_spec_is_atomic(ddl_table, spark):
    cat, t = ddl_table
    with pytest.raises(ValueError, match="already exists"):
        cat.sql("ALTER TABLE addt ADD COLUMNS (x bigint, v string)")
    assert _cols(spark, cat, "addt") == ["k", "v"]


def test_add_columns_bad_fold_in_later_spec_is_atomic(ddl_table, spark):
    cat, t = ddl_table
    # rand() refuses at fold time — and column `a` must NOT have landed
    with pytest.raises(ValueError, match="nondeterministic"):
        cat.sql(
            "ALTER TABLE addt ADD COLUMNS "
            "(a bigint, b bigint DEFAULT rand())"
        )
    assert _cols(spark, cat, "addt") == ["k", "v"]


def test_add_columns_notnull_null_folding_default_is_atomic(ddl_table, spark):
    cat, t = ddl_table
    # nullif(1,1) folds to NULL: NOT NULL would violate on every
    # pre-existing row — refuse before spec `a` commits
    with pytest.raises(ValueError, match="folds to NULL"):
        cat.sql(
            "ALTER TABLE addt ADD COLUMNS "
            "(a bigint, b bigint DEFAULT nullif(1,1) NOT NULL)"
        )
    assert _cols(spark, cat, "addt") == ["k", "v"]


def test_add_columns_happy_path_still_lands_all(ddl_table, spark):
    cat, t = ddl_table
    cat.sql(
        "ALTER TABLE addt ADD COLUMNS "
        "(a bigint DEFAULT 7, b string DEFAULT 'x' NOT NULL)"
    )
    rows = {
        (r["k"], r["a"], r["b"])
        for r in cat.sql("SELECT k, a, b FROM addt").collect()
    }
    assert rows == {(1, 7, "x"), (2, 7, "x")}


# ---------------------------------------------------------------------------
# 2. Subquery DEFAULTs refuse
# ---------------------------------------------------------------------------

def test_default_subquery_refuses_in_create(spark, tmp_path):
    cat = SnapshotCatalog(spark)
    spark.range(1).createOrReplaceTempView("some_view")
    with pytest.raises(ValueError, match="subquery"):
        cat.sql(
            f"CREATE TABLE subt (k bigint, "
            f"d bigint DEFAULT (SELECT max(id) FROM some_view)) "
            f"USING snapshot LOCATION '{tmp_path / 's'}'"
        )


def test_default_subquery_refuses_in_add_column(spark, tmp_path):
    t = tmp_path / "t"
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE subt2 (k bigint) USING snapshot LOCATION '{t}'")
    cat.sql("INSERT INTO subt2 VALUES (1)")
    spark.range(1).createOrReplaceTempView("some_view")
    with pytest.raises(ValueError, match="subquery"):
        cat.sql(
            "ALTER TABLE subt2 ADD COLUMN "
            "d bigint DEFAULT (SELECT max(id) FROM some_view)"
        )
    # a string literal CONTAINING the word select still folds fine
    cat.sql("ALTER TABLE subt2 ADD COLUMN note string DEFAULT 'select me'")
    assert cat.sql("SELECT note FROM subt2").first()["note"] == "select me"


# ---------------------------------------------------------------------------
# 3. Layout full-replace writers: identity + write defaults
# ---------------------------------------------------------------------------

@pytest.fixture
def identity_table(spark, tmp_path):
    t = tmp_path / "it"
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE idt (id bigint GENERATED ALWAYS AS IDENTITY, "
        f"k bigint, v string) USING snapshot LOCATION '{t}'"
    )
    cat.sql("INSERT INTO idt (k, v) VALUES (1, 'a'), (2, 'b')")
    return cat, t


def test_write_with_stats_identity_routes_and_allocates(
    spark, identity_table
):
    cat, t = identity_table
    batch = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10, 18)], "k bigint, v string"
    )
    snapshot_write(batch, t, stats_cols=["k"], n_files=4)
    out = snapshot_read(spark, t)
    rows = out.collect()
    assert len(rows) == 8                       # full replace
    ids = [r["id"] for r in rows]
    assert None not in ids and len(set(ids)) == 8   # allocated, unique
    # per-file [min,max] stats for k landed in the manifest (the range
    # prune stays CORRECT: a range outside the data hits no file; the
    # identity allocation's shuffle may merge the tiny layout, so file
    # COUNTS aren't asserted here)
    assert snapshot_files(t, [{"k": (10, 17)}])      # within range
    assert snapshot_files(t, [{"k": (500, 600)}]) == []  # pruned out


def test_write_with_stats_materializes_write_default(spark, tmp_path):
    t = tmp_path / "wd"
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE wdt (k bigint, d bigint DEFAULT 1) "
        f"USING snapshot LOCATION '{t}'"
    )
    cat.sql("INSERT INTO wdt VALUES (1, 1)")
    cat.sql("ALTER TABLE wdt ALTER COLUMN d SET DEFAULT 42")
    # narrow batch omits d: must resolve the WRITE default (42), not
    # the stale birth default (1)
    snapshot_write(
        spark.createDataFrame([(9,)], "k bigint"), t, stats_cols=["k"]
    )
    assert snapshot_read(spark, t).first()["d"] == 42


def test_write_zordered_identity_routes_and_allocates(spark, tmp_path):
    t = tmp_path / "zit"
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE zidt (id bigint GENERATED ALWAYS AS IDENTITY, "
        f"x bigint, y bigint) USING snapshot LOCATION '{t}'"
    )
    cat.sql("INSERT INTO zidt (x, y) VALUES (1, 1)")
    batch = spark.createDataFrame(
        [(i, (i * 7) % 16) for i in range(16)], "x bigint, y bigint"
    )
    snapshot_write(batch, t, zorder_by=["x", "y"], n_files=4)
    out = snapshot_read(spark, t).collect()
    assert len(out) == 16
    ids = [r["id"] for r in out]
    assert None not in ids and len(set(ids)) == 16


def test_write_with_bloom_identity_routes_and_backfills(
    spark, identity_table
):
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_files,
    )

    cat, t = identity_table
    batch = spark.createDataFrame(
        [(i, f"v{i}") for i in range(30, 38)], "k bigint, v string"
    )
    snapshot_write(batch, t, bloom_cols=["k"], n_files=4)
    rows = snapshot_read(spark, t).collect()
    assert len(rows) == 8
    ids = [r["id"] for r in rows]
    assert None not in ids and len(set(ids)) == 8   # allocated, unique
    # the backfilled blooms prune point lookups: a value outside the
    # data hits no file
    assert snapshot_files(t, [{"k": (999_999, 999_999)}]) == []
    assert snapshot_files(t, [{"k": (31, 31)}])      # present value kept


def test_write_with_bloom_materializes_write_default(spark, tmp_path):
    t = tmp_path / "wb"
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE wbt (k bigint, d bigint DEFAULT 1) "
        f"USING snapshot LOCATION '{t}'"
    )
    cat.sql("INSERT INTO wbt VALUES (1, 1)")
    cat.sql("ALTER TABLE wbt ALTER COLUMN d SET DEFAULT 42")
    snapshot_write(
        spark.createDataFrame([(9,)], "k bigint"), t, bloom_cols=["k"]
    )
    assert snapshot_read(spark, t).first()["d"] == 42


# ---------------------------------------------------------------------------
# 4. snapshot_upsert_partitioned: identity refusal + write defaults
# ---------------------------------------------------------------------------

def test_upsert_partitioned_identity_refuses(spark, identity_table):
    cat, t = identity_table
    batch = spark.createDataFrame([(1, "x")], "k bigint, v string")
    with pytest.raises(NotImplementedError, match="IDENTITY"):
        snapshot_upsert_partitioned(spark, batch, t, ["k"], "v")
    assert snapshot_read(spark, t).count() == 2


def test_upsert_partitioned_materializes_write_default(spark, tmp_path):
    t = tmp_path / "up"
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE upt (k bigint, part string, d bigint DEFAULT 1) "
        f"USING snapshot LOCATION '{t}'"
    )
    cat.sql("INSERT INTO upt VALUES (1, 'p1', 1)")
    cat.sql("ALTER TABLE upt ALTER COLUMN d SET DEFAULT 42")
    # narrow upsert batch omitting d resolves the write default
    snapshot_upsert_partitioned(
        spark,
        spark.createDataFrame([(2, "p2")], "k bigint, part string"),
        t, ["k"], "part",
    )
    got = {
        (r["k"], r["d"])
        for r in snapshot_read(spark, t).select("k", "d").collect()
    }
    assert got == {(1, 1), (2, 42)}


# ---------------------------------------------------------------------------
# 5. Infix-operator expression DEFAULTs parse (the r15 scanner extension)
# ---------------------------------------------------------------------------

def test_default_infix_expression_parses_and_folds(spark, tmp_path):
    t = tmp_path / "ix"
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE ixt (k bigint, a bigint DEFAULT 1 + 2, "
        f"b string DEFAULT 'x' || 'y', c bigint DEFAULT 10 - 3 NOT NULL) "
        f"USING snapshot LOCATION '{t}'"
    )
    cat.sql("INSERT INTO ixt (k) VALUES (1)")
    row = cat.sql("SELECT a, b, c FROM ixt").first()
    assert (row["a"], row["b"], row["c"]) == (3, "xy", 7)
    # infix default composes with the clause grammar in ADD COLUMNS
    cat.sql("ALTER TABLE ixt ADD COLUMN d bigint DEFAULT 2 * 4 COMMENT 'm'")
    assert cat.sql("SELECT d FROM ixt").first()["d"] == 8


def test_default_infix_stops_at_clause_keywords(spark, tmp_path):
    t = tmp_path / "ix2"
    cat = SnapshotCatalog(spark)
    # NOT NULL after an infix default must split as a clause, not be
    # swallowed into the expression
    cat.sql(
        f"CREATE TABLE ixt2 (k bigint, a bigint DEFAULT 5 + 5 NOT NULL "
        f"COMMENT 'ten') USING snapshot LOCATION '{t}'"
    )
    cat.sql("INSERT INTO ixt2 (k) VALUES (1)")
    assert cat.sql("SELECT a FROM ixt2").first()["a"] == 10
    desc = {
        r.col_name: r.comment
        for r in cat.sql("DESCRIBE TABLE ixt2").collect()
    }
    assert desc.get("a") == "ten"


# ---------------------------------------------------------------------------
# 6. ANALYZE ... COMPUTE BLOOM FILTERS (the bloom twin of snapshot_analyze)
# ---------------------------------------------------------------------------

def test_analyze_blooms_backfills_point_pruning(spark, tmp_path):
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_files,
        snapshot_read,
        snapshot_write,
    )

    t = tmp_path / "ab"
    df = spark.range(0, 400).selectExpr("id AS k", "id % 7 AS v")
    # stats-only table: 4 range-split files, NO blooms yet
    snapshot_write(df, t, stats_cols=["k"], n_files=4)
    before = snapshot_files(t, [{"v": (3, 3)}])
    assert len(before) == 4  # v has no stats/blooms: every file kept
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE abt USING snapshot LOCATION '{t}'")
    cat.sql("ANALYZE TABLE abt COMPUTE BLOOM FILTERS FOR COLUMNS (v)")
    # metadata-only: same rows, new version
    assert snapshot_read(spark, t).count() == 400
    # a value no file contains now prunes to zero via the blooms
    assert snapshot_files(t, [{"v": (12345, 12345)}]) == []
    # present values keep their files
    assert snapshot_files(t, [{"v": (3, 3)}])


def test_analyze_blooms_merges_with_existing_columns(spark, tmp_path):
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_analyze_blooms,
        snapshot_files,
        snapshot_write,
    )

    t = tmp_path / "abm"
    df = spark.range(0, 100).selectExpr("id AS k", "id + 1000 AS w")
    snapshot_write(df, t, bloom_cols=["k"], n_files=2)
    snapshot_analyze_blooms(spark, t, ["w"])
    # both the write-time column and the analyzed one prune
    assert snapshot_files(t, [{"k": (777_777, 777_777)}]) == []
    assert snapshot_files(t, [{"w": (777_777, 777_777)}]) == []
    assert snapshot_files(t, [{"w": (1005, 1005)}])


# ---------------------------------------------------------------------------
# 7. ALTER COLUMN ... TYPE (proactive type widening DDL)
# ---------------------------------------------------------------------------

def test_widen_column_mapped_table(spark, tmp_path):
    t = tmp_path / "wt"
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE wt (k int, x float) USING snapshot LOCATION '{t}'"
    )
    cat.sql("INSERT INTO wt VALUES (1, CAST(1.5 AS float))")
    cat.sql("ALTER TABLE wt ALTER COLUMN k TYPE bigint")
    cat.sql("ALTER TABLE wt ALTER COLUMN x TYPE double")
    # reads serve the widened types, existing narrow files cast up
    got = cat.sql("SELECT * FROM wt")
    types = dict(got.dtypes)
    assert types["k"] == "bigint" and types["x"] == "double"
    assert got.first()["k"] == 1
    # DESCRIBE reflects the widened declared type
    desc = {r.col_name: r.data_type
            for r in cat.sql("DESCRIBE TABLE wt").collect()}
    assert desc["k"] == "bigint"
    # a wide batch now lands without implicit widening; a narrow one
    # still upcasts on write
    cat.sql("INSERT INTO wt VALUES (9223372036854775807, CAST(2.5 AS double))")
    assert cat.sql("SELECT max(k) AS m FROM wt").first()["m"] == 2**63 - 1


def test_widen_column_refusals(spark, tmp_path):
    t = tmp_path / "wr"
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE wr (id bigint GENERATED ALWAYS AS IDENTITY, "
        f"k bigint, s string) USING snapshot LOCATION '{t}'"
    )
    cat.sql("INSERT INTO wr (k, s) VALUES (1, 'a')")
    with pytest.raises(ValueError, match="widening"):
        cat.sql("ALTER TABLE wr ALTER COLUMN k TYPE int")       # narrowing
    with pytest.raises(ValueError, match="widening"):
        cat.sql("ALTER TABLE wr ALTER COLUMN s TYPE bigint")    # cross-chain
    with pytest.raises(ValueError, match="IDENTITY"):
        cat.sql("ALTER TABLE wr ALTER COLUMN id TYPE bigint")   # identity


def test_widen_column_unmapped_library_table(spark, tmp_path):
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_append,
        snapshot_read,
        snapshot_widen_column,
        snapshot_write,
    )

    t = tmp_path / "wl"
    snapshot_write(
        spark.range(3).selectExpr("CAST(id AS int) AS k"), t
    )
    snapshot_widen_column(spark, t, "k", "bigint")
    got = snapshot_read(spark, t)
    assert dict(got.dtypes)["k"] == "bigint"
    assert got.count() == 3
    # a bigint append composes with the pre-widened map
    snapshot_append(
        spark.createDataFrame([(2**40,)], "k bigint"), t
    )
    assert snapshot_read(spark, t).count() == 4


def test_unsupported_alter_on_registered_table_refuses_loudly(spark, tmp_path):
    """An ALTER form no handler recognizes must refuse with a clear
    message — before this guard it fell through to spark.sql and hit
    the temp-view registration ('expects a table but is a view')."""
    t = tmp_path / "ua"
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE uat (k int, d double) USING snapshot LOCATION '{t}'")
    with pytest.raises(ValueError, match="unsupported ALTER TABLE"):
        cat.sql("ALTER TABLE uat ALTER COLUMN d TYPE decimal(10,2)")
    with pytest.raises(ValueError, match="unsupported ALTER TABLE"):
        cat.sql("ALTER TABLE uat CLUSTER BY (k)")


def test_widen_reverts_with_restore_and_travels_with_clone(spark, tmp_path):
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_clone,
        snapshot_read,
        snapshot_restore,
        snapshot_widen_column,
        snapshot_write,
        current_version,
    )

    t = tmp_path / "wrc"
    snapshot_write(spark.range(3).selectExpr("CAST(id AS int) AS k"), t)
    v_narrow = current_version(t)
    snapshot_widen_column(spark, t, "k", "bigint")
    assert dict(snapshot_read(spark, t).dtypes)["k"] == "bigint"
    # clone AFTER the widen carries the widened type
    c = tmp_path / "wrc_clone"
    snapshot_clone(t, c)
    assert dict(snapshot_read(spark, c).dtypes)["k"] == "bigint"
    # RESTORE to the pre-widen version reverts the declared type
    snapshot_restore(t, v_narrow)
    assert dict(snapshot_read(spark, t).dtypes)["k"] == "int"
    # the clone is unaffected by the source's restore
    assert dict(snapshot_read(spark, c).dtypes)["k"] == "bigint"


def test_widen_renders_in_show_create(spark, tmp_path):
    t = tmp_path / "wsc"
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE wsc (k int, v string) USING snapshot LOCATION '{t}'")
    cat.sql("INSERT INTO wsc VALUES (1, 'a')")
    cat.sql("ALTER TABLE wsc ALTER COLUMN k TYPE bigint")
    ddl = cat.sql("SHOW CREATE TABLE wsc").first()[0]
    assert "k bigint" in ddl.lower(), ddl


def test_widen_refuses_on_bucketed_table(spark, tmp_path):
    """The CLUSTERED BY view reads the bucketing spec's frozen schema
    DDL — widening would stale it silently, so it refuses."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_widen_column,
        snapshot_write,
    )

    t = tmp_path / "wb2"
    snapshot_write(
        spark.range(8).selectExpr("CAST(id AS int) AS k"), t, bucket_by=("k", 2))
    with pytest.raises(ValueError, match="bucketed"):
        snapshot_widen_column(spark, t, "k", "bigint")


def test_widen_cannot_narrow_implicitly_widened_types_map(spark, tmp_path):
    """The review-pass bug: a wide batch widens only the types map (the
    declared schema stays narrow), and the widen DDL's guard compared
    against the DECLARATION — so ALTER COLUMN k TYPE int 'widened' a
    bigint-recorded column back down. The guard now compares against
    the wider of declared and recorded."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_append,
        snapshot_read,
    )

    t = tmp_path / "nw"
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE nwt (k int) USING snapshot LOCATION '{t}'")
    cat.sql("INSERT INTO nwt VALUES (1)")
    # implicit widening: a bigint batch stamps types={k: bigint}
    snapshot_append(spark.createDataFrame([(2**40,)], "k bigint"), t)
    assert dict(snapshot_read(spark, t).dtypes)["k"] == "bigint"
    with pytest.raises(ValueError, match="widening"):
        cat.sql("ALTER TABLE nwt ALTER COLUMN k TYPE int")
    assert dict(snapshot_read(spark, t).dtypes)["k"] == "bigint"
    assert snapshot_read(spark, t).where("k > 1000000").count() == 1
    # aligning the DECLARATION with the recorded width is fine
    cat.sql("ALTER TABLE nwt ALTER COLUMN k TYPE bigint")
    desc = {r.col_name: r.data_type
            for r in cat.sql("DESCRIBE TABLE nwt").collect()}
    assert desc["k"] == "bigint"


def test_widen_unknown_and_recased_columns(spark, tmp_path):
    t = tmp_path / "uc"
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE uct (kk int) USING snapshot LOCATION '{t}'")
    cat.sql("INSERT INTO uct VALUES (1)")
    with pytest.raises(ValueError, match="unknown column"):
        cat.sql("ALTER TABLE uct ALTER COLUMN nosuch TYPE bigint")
    # Spark resolves identifiers case-insensitively; so does the DDL
    cat.sql("ALTER TABLE uct ALTER COLUMN KK TYPE bigint")
    assert dict(cat.sql("SELECT * FROM uct").dtypes)["kk"] == "bigint"


def test_default_infix_operator_spacing_variants(spark, tmp_path):
    """`1 + 2`, `1 +2` and `1+ 2` are all the same legal SQL."""
    t = tmp_path / "sp"
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE spt (k bigint, a bigint DEFAULT 1 +2, "
        f"b bigint DEFAULT 1+ 2 NOT NULL, c bigint DEFAULT 1+2) "
        f"USING snapshot LOCATION '{t}'"
    )
    cat.sql("INSERT INTO spt (k) VALUES (1)")
    row = cat.sql("SELECT a, b, c FROM spt").first()
    assert (row["a"], row["b"], row["c"]) == (3, 3, 3)


def test_widen_same_type_is_a_true_noop(spark, tmp_path):
    from energy_datalake_solution_spark.sources.snapshots import (
        current_version,
        snapshot_widen_column,
        snapshot_write,
    )

    t = tmp_path / "nn"
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE nnt (k bigint) USING snapshot LOCATION '{t}'")
    cat.sql("INSERT INTO nnt VALUES (1)")
    cat.sql("ALTER TABLE nnt ALTER COLUMN k TYPE bigint")  # first: aligns map
    v = current_version(t)
    cat.sql("ALTER TABLE nnt ALTER COLUMN k TYPE bigint")  # now redundant
    assert current_version(t) == v  # no empty commit in the history


def test_widen_rebases_against_racing_append(spark, tmp_path, monkeypatch):
    """A widen whose commit loses a race re-reads the new tip: the
    racer's appended files must survive into the widened version (a
    stale-parent commit would silently drop them)."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "wrace"
    S.snapshot_write(spark.range(5).selectExpr("CAST(id AS int) AS k"), t)
    real_commit = S._commit
    state = {"injected": False}

    def racing_commit(p_, files_, parent_, **kw):
        if not state["injected"] and kw.get("op") == "widen-column":
            state["injected"] = True
            S.snapshot_append(
                spark.createDataFrame([(100,)], "k int").coalesce(1), t
            )
        return real_commit(p_, files_, parent_, **kw)

    monkeypatch.setattr(S, "_commit", racing_commit)
    S.snapshot_widen_column(spark, t, "k", "bigint")
    monkeypatch.undo()
    got = S.snapshot_read(spark, t)
    assert dict(got.dtypes)["k"] == "bigint"
    assert got.count() == 6  # racer's row survived the widen's rebase
    assert got.where("k = 100").count() == 1


def test_widen_composes_with_change_feed_and_purge(spark, tmp_path):
    """A change-feed window SPANNING a widen serves the widened type
    (mixed-width steps union cleanly), and MOR delete + DV purge across
    mixed-width files preserves both the values and the width."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "wcf"
    S.snapshot_write(spark.range(3).selectExpr("CAST(id AS int) AS k"), t)
    S.snapshot_widen_column(spark, t, "k", "bigint")
    S.snapshot_append(spark.createDataFrame([(2**40,)], "k bigint"), t)
    cf = S.snapshot_change_feed(spark, t, 1)
    assert dict(cf.dtypes)["k"] == "bigint"
    assert [(r["k"], r["_change_type"]) for r in cf.collect()] == [
        (2**40, "insert")
    ]
    S.snapshot_delete_range_mor(spark, t, "k", 1, 1)
    S.snapshot_purge_dv(spark, t)
    got = S.snapshot_read(spark, t)
    assert dict(got.dtypes)["k"] == "bigint"
    assert sorted(r.k for r in got.collect()) == [0, 2, 2**40]


def test_widen_composes_with_compaction_and_zorder(spark, tmp_path):
    """Compaction reads through the types map, so its rewritten files
    are honestly wide; z-order compact keeps per-file stats and pruning
    on the widened column."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "wc"
    S.snapshot_write(spark.range(3).selectExpr("CAST(id AS int) AS k"), t)
    S.snapshot_append(spark.range(3, 6).selectExpr("CAST(id AS int) AS k"), t)
    S.snapshot_widen_column(spark, t, "k", "bigint")
    S.snapshot_compact(spark, t)
    got = S.snapshot_read(spark, t)
    assert dict(got.dtypes)["k"] == "bigint"
    assert sorted(r.k for r in got.collect()) == [0, 1, 2, 3, 4, 5]

    t2 = tmp_path / "wz"
    S.snapshot_write(
        spark.range(16).selectExpr(
            "CAST(id AS int) AS a", "CAST(id % 4 AS int) AS b"
        ),
        t2,
    )
    S.snapshot_widen_column(spark, t2, "a", "bigint")
    S.snapshot_zorder_compact_n(spark, t2, ["a", "b"], n_files=2)
    g2 = S.snapshot_read(spark, t2)
    assert dict(g2.dtypes)["a"] == "bigint" and g2.count() == 16
    assert len(S.snapshot_files(t2, [{"a": (0, 3)}])) == 1  # pruned


def test_widen_preserves_all_sibling_metadata(spark, tmp_path):
    """A widen commit rewrites the schema manifest entry — everything
    else riding the manifest must survive: TBLPROPERTIES, CHECK
    constraints (still enforced), column COMMENTs and DEFAULTs (still
    applied), and the identity high-water mark (allocation continues,
    no reuse)."""
    from energy_datalake_solution_spark.sources.snapshots import (
        SnapshotConstraintViolation,
    )

    t = tmp_path / "pm"
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE pmt (id bigint GENERATED ALWAYS AS IDENTITY, "
        f"k int COMMENT 'key col' DEFAULT 7, v string) "
        f"USING snapshot LOCATION '{t}'"
    )
    cat.sql("INSERT INTO pmt (k, v) VALUES (1, 'a')")
    cat.sql("ALTER TABLE pmt SET TBLPROPERTIES ('team' = 'data')")
    cat.sql("ALTER TABLE pmt ADD CONSTRAINT pos CHECK (k > 0)")
    cat.sql("ALTER TABLE pmt ALTER COLUMN k TYPE bigint")
    props = {r.key: r.value
             for r in cat.sql("SHOW TBLPROPERTIES pmt").collect()}
    assert props.get("team") == "data"
    desc = {r.col_name: (r.data_type, r.comment)
            for r in cat.sql("DESCRIBE TABLE pmt").collect()}
    assert desc["k"] == ("bigint", "key col")
    with pytest.raises(SnapshotConstraintViolation):
        cat.sql("INSERT INTO pmt (k, v) VALUES (-5, 'x')")
    cat.sql("INSERT INTO pmt (v) VALUES ('b')")  # default + identity
    rows = sorted((r.id, r.k, r.v) for r in cat.sql("SELECT * FROM pmt").collect())
    assert rows == [(1, 1, "a"), (2, 7, "b")]
    ddl = cat.sql("SHOW CREATE TABLE pmt").first()[0].lower()
    assert "k bigint" in ddl and "default 7" in ddl and "comment" in ddl


def test_analyze_blooms_after_rename_keys_physical(spark, tmp_path):
    """Bloom backfill on a RENAMED column: the logical name resolves to
    the frozen physical name, manifest keys stay physical, and a prune
    on the logical name skips on it."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "rb"
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE rbt (k bigint, v string) USING snapshot LOCATION '{t}'")
    cat.sql("INSERT INTO rbt VALUES (5, 'a'), (900, 'b')")
    cat.sql("ALTER TABLE rbt RENAME COLUMN k TO kk")
    cat.sql("ANALYZE TABLE rbt COMPUTE BLOOM FILTERS FOR COLUMNS (kk)")
    m = S._read_manifest(t, S.current_version(t))
    assert sorted({c for b in (m.get("blooms") or {}).values() for c in b}) == ["k"]
    assert S.snapshot_files(t, [{"kk": (123456, 123456)}]) == []  # pruned
    assert S.snapshot_files(t, [{"kk": (5, 5)}])              # present kept


def test_optimize_after_rename_preserves_values(spark, tmp_path):
    """THE round-15 probe find: compaction and z-order rewrote mapped
    tables with LOGICAL column names, so after a RENAME every rewritten
    file read the renamed column as all-NULL (data files only know
    frozen physical spellings). Both rewriters now go physical."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "oc"
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE oct_ (a bigint, b bigint) USING snapshot LOCATION '{t}'")
    cat.sql("INSERT INTO oct_ SELECT id, id % 7 FROM range(64)")
    cat.sql("ALTER TABLE oct_ RENAME COLUMN a TO aa")
    cat.sql("OPTIMIZE oct_")                       # plain compact
    vals = sorted(r.aa for r in cat.sql("SELECT aa FROM oct_").collect())
    assert vals == list(range(64))
    cat.sql("OPTIMIZE oct_ ZORDER BY (aa, b)")     # full zorder rewrite
    vals = sorted(r.aa for r in cat.sql("SELECT aa FROM oct_").collect())
    assert vals == list(range(64))
    # stats keyed PHYSICAL: the prune maps the logical name onto them
    m = S._read_manifest(t, S.current_version(t))
    keys = sorted({c for s in (m.get("stats") or {}).values()
                   for c in s if not c.startswith("__")})
    assert keys == ["a", "b"]
    assert len(S.snapshot_files(t, [{"aa": (0, 7)}])) < len(m["files"])
    # incremental zorder over a fresh tail keeps values too
    cat.sql("INSERT INTO oct_ SELECT id, id % 7 FROM range(64, 96)")
    S.snapshot_zorder_compact_n(spark, t, ["aa", "b"], incremental=True)
    vals = sorted(r.aa for r in cat.sql("SELECT aa FROM oct_").collect())
    assert vals == list(range(96))


def test_append_stats_cols_map_to_physical_after_rename(spark, tmp_path):
    """snapshot_append(stats_cols=[logical]) on a renamed mapped table
    must key the new files' stats physically (like every other stats
    writer) — a logical key would silently collect nothing and the
    files would stay unprunable."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "as"
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE ast (a bigint, v string) USING snapshot LOCATION '{t}'")
    cat.sql("INSERT INTO ast VALUES (1, 'x')")
    cat.sql("ALTER TABLE ast RENAME COLUMN a TO aa")
    S.snapshot_append(
        spark.createDataFrame([(500, "y")], "aa bigint, v string"),
        t, stats_cols=["aa"],
    )
    m = S._read_manifest(t, S.current_version(t))
    keys = {c for s in (m.get("stats") or {}).values()
            for c in s if not c.startswith("__")}
    assert keys == {"a"}  # physical spelling
    assert S.snapshot_files(t, [{"aa": (400, 600)}])  # prunable


def test_partition_column_rename_moves_the_spec(spark, tmp_path):
    """Renaming a partition column must move the partitioning spec's
    logical name in the SAME commit — before this fix the spec kept the
    old spelling and every later partitioned write died on a mapping
    KeyError (column mapping is exactly the feature that makes
    partition-column renames legal)."""
    t = tmp_path / "pr"
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE prt (k bigint, part string) USING snapshot "
        f"PARTITIONED BY (part) LOCATION '{t}'"
    )
    cat.sql("INSERT INTO prt VALUES (1, 'x'), (2, 'y')")
    cat.sql("ALTER TABLE prt RENAME COLUMN part TO bucket")
    cat.sql("INSERT INTO prt VALUES (3, 'z')")   # routes per partition
    assert cat.sql("SELECT count(*) AS n FROM prt").first()["n"] == 3
    parts = {r[0] for r in cat.sql("SHOW PARTITIONS prt").collect()}
    assert parts == {"x", "y", "z"}
    ddl = cat.sql("SHOW CREATE TABLE prt").first()[0]
    assert "PARTITIONED BY (bucket)" in ddl


def test_drop_partition_or_generated_source_column_refuses(spark, tmp_path):
    """Dropping a partition column (the spec would dangle) or a column
    a GENERATED expression reads refuses loudly — Delta's contract;
    before, the drop landed and every later write died on KeyError or
    UNRESOLVED_COLUMN."""
    t = tmp_path / "dp"
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE dpt (k bigint, part string, "
        f"g bigint GENERATED ALWAYS AS (k * 2)) USING snapshot "
        f"PARTITIONED BY (part) LOCATION '{t}'"
    )
    cat.sql("INSERT INTO dpt (k, part) VALUES (1, 'x')")
    with pytest.raises(ValueError, match="partition column"):
        cat.sql("ALTER TABLE dpt DROP COLUMN part")
    with pytest.raises(ValueError, match="GENERATED"):
        cat.sql("ALTER TABLE dpt DROP COLUMN k")
    with pytest.raises(ValueError, match="GENERATED"):
        cat.sql("ALTER TABLE dpt RENAME COLUMN k TO kk")
    # the generated column itself may rename (its expression reads k,
    # not itself) and the table keeps working
    cat.sql("ALTER TABLE dpt RENAME COLUMN g TO gg")
    cat.sql("INSERT INTO dpt (k, part) VALUES (5, 'y')")
    got = {(r.k, r.gg) for r in cat.sql("SELECT k, gg FROM dpt").collect()}
    assert got == {(1, 2), (5, 10)}


def test_restore_and_vacuum_across_widen_bloom_history(spark, tmp_path):
    """RESTORE reverts both the bloom backfill and the widened types
    map (they travel per manifest); VACUUM across a widen/bloom history
    keeps the tip's rows, filters and types intact."""
    from energy_datalake_solution_spark.sources import snapshots as S

    t = tmp_path / "rv"
    S.snapshot_write(
        spark.range(100).selectExpr("id AS k", "id % 5 AS v"), t, stats_cols=["k"],
        n_files=4,
    )
    v1 = S.current_version(t)
    S.snapshot_analyze_blooms(spark, t, ["v"])
    S.snapshot_widen_column(spark, t, "v", "bigint")
    S.snapshot_append(spark.createDataFrame([(1000, 9)], "k bigint, v bigint"), t)
    S.snapshot_restore(t, v1)
    m = S._read_manifest(t, S.current_version(t))
    assert not m.get("blooms") and m.get("types") is None  # reverted
    assert S.snapshot_read(spark, t).count() == 100
    S.snapshot_analyze_blooms(spark, t, ["v"])
    S.snapshot_widen_column(spark, t, "v", "bigint")
    S.snapshot_vacuum(t, keep_versions=2)
    assert S.snapshot_read(spark, t).count() == 100
    assert S.snapshot_files(t, [{"v": (12345, 12345)}]) == []  # blooms live
    assert S._read_manifest(t, S.current_version(t))["types"]["v"] == "bigint"


def test_partitioned_ctas(spark, tmp_path):
    """CREATE TABLE ... PARTITIONED BY ... AS SELECT (both grammar
    positions): the result lands one file set per partition value with
    the spec in the manifest — later inserts route through it and
    SHOW PARTITIONS reflects every generation."""
    cat = SnapshotCatalog(spark)
    spark.range(20).selectExpr(
        "id AS k", "CAST(id % 3 AS string) AS part"
    ).createOrReplaceTempView("pctas_src")
    t1 = tmp_path / "c1"
    cat.sql(
        f"CREATE TABLE pc1 USING snapshot PARTITIONED BY (part) "
        f"LOCATION '{t1}' AS SELECT * FROM pctas_src"
    )
    assert cat.sql("SELECT count(*) AS n FROM pc1").first()["n"] == 20
    assert {r[0] for r in cat.sql("SHOW PARTITIONS pc1").collect()} == {
        "0", "1", "2"
    }
    cat.sql("INSERT INTO pc1 VALUES (100, '9')")   # routes via the spec
    assert {r[0] for r in cat.sql("SHOW PARTITIONS pc1").collect()} == {
        "0", "1", "2", "9"
    }
    # grammar position 2: PARTITIONED BY after LOCATION
    t2 = tmp_path / "c2"
    cat.sql(
        f"CREATE TABLE pc2 USING snapshot LOCATION '{t2}' "
        f"PARTITIONED BY (part) AS SELECT * FROM pctas_src"
    )
    assert cat.sql("SELECT count(*) AS n FROM pc2").first()["n"] == 20
    # a spec column the query does not produce refuses loudly
    with pytest.raises(ValueError, match="does not produce"):
        cat.sql(
            f"CREATE TABLE pc3 USING snapshot PARTITIONED BY (nosuch) "
            f"LOCATION '{tmp_path / 'c3'}' AS SELECT * FROM pctas_src"
        )


def test_show_create_output_is_re_executable(spark, tmp_path):
    """The closure property: SHOW CREATE TABLE's output — identity
    spec, defaults, comments, NOT NULL, partitioning, CHECK constraints
    (as delta.constraints.* TBLPROPERTIES) and plain properties —
    re-executes at a new location into a behaviorally equivalent table."""
    import re as _re

    t1 = tmp_path / "t1"
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE sc1 (id bigint GENERATED ALWAYS AS IDENTITY "
        f"(START WITH 5 INCREMENT BY 2), "
        f"k bigint NOT NULL DEFAULT 1 COMMENT 'key', part string, "
        f"g bigint GENERATED ALWAYS AS (k * 2)) USING snapshot "
        f"PARTITIONED BY (part) LOCATION '{t1}'"
    )
    cat.sql("ALTER TABLE sc1 ADD CONSTRAINT pos CHECK (k > 0)")
    cat.sql("ALTER TABLE sc1 SET TBLPROPERTIES ('team' = 'x')")
    ddl = cat.sql("SHOW CREATE TABLE sc1").first()[0]
    t2 = tmp_path / "t2"
    cat.sql(_re.sub(r"LOCATION '[^']+'", f"LOCATION '{t2}'",
                    ddl.replace("sc1", "sc2")))
    cat.sql("INSERT INTO sc2 (k, part) VALUES (3, 'a')")
    row = cat.sql("SELECT id, k, g, part FROM sc2").first()
    assert tuple(row) == (5, 3, 6, "a")   # identity start, generated
    # the re-executed table enforces the re-applied CHECK and NOT NULL
    from energy_datalake_solution_spark.sources.snapshots import (
        SnapshotConstraintViolation,
    )

    with pytest.raises(SnapshotConstraintViolation):
        cat.sql("INSERT INTO sc2 (k, part) VALUES (-1, 'b')")
    props = {r.key: r.value
             for r in cat.sql("SHOW TBLPROPERTIES sc2").collect()}
    assert props.get("team") == "x"
    # defaults resolve on narrow writes
    cat.sql("INSERT INTO sc2 (part) VALUES ('c')")
    got = {(r.k, r.g) for r in cat.sql("SELECT k, g FROM sc2").collect()}
    assert got == {(3, 6), (1, 2)}
