"""Python DataSource over the snapshot format: spark.read.format("snapshot")
and the version-offset streaming source, end to end against the engine's
own writers (append, MOR delete, rename) — the table consumed through
Spark's native reader surface, not the package API."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from energy_datalake_solution_spark.sources.snapshot_datasource import (
    SnapshotDataSource,
)
from energy_datalake_solution_spark.sources.snapshots import (
    snapshot_append,
    snapshot_clone,
    snapshot_delete_range_mor,
    snapshot_enable_column_mapping,
    snapshot_read,
    snapshot_rename_column,
    snapshot_write,
)


@pytest.fixture(scope="module")
def ds_spark(spark):
    spark.dataSource.register(SnapshotDataSource)
    return spark


def _df(spark, lo, hi, val):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(val).alias("v")
    )


def test_batch_read_matches_snapshot_read(ds_spark, tmp_path):
    spark = ds_spark
    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 100, "a"), t, stats_cols=["k"], n_files=4)
    snapshot_append(_df(spark, 100, 120, "b"), t)
    snapshot_delete_range_mor(spark, t, "k", 10, 19)
    got = spark.read.format("snapshot").option("path", str(t)).load()
    rows = {(r.k, r.v) for r in got.collect()}
    want = {(k, "a") for k in range(100) if not 10 <= k <= 19} | {
        (k, "b") for k in range(100, 120)
    }
    assert rows == want


def test_batch_time_travel_via_version_option(ds_spark, tmp_path):
    spark = ds_spark
    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 5, "a"), t)
    snapshot_write(_df(spark, 0, 3, "b"), t)
    v1 = (
        spark.read.format("snapshot")
        .option("path", str(t)).option("version", "1").load()
    )
    assert v1.count() == 5 and {r.v for r in v1.collect()} == {"a"}


def test_batch_read_applies_column_mapping(ds_spark, tmp_path):
    spark = ds_spark
    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 4, "a"), t)
    snapshot_enable_column_mapping(spark, t)
    snapshot_rename_column(t, "v", "label")
    got = spark.read.format("snapshot").option("path", str(t)).load()
    assert got.columns == ["k", "label"]
    assert {r.label for r in got.collect()} == {"a"}


def test_clone_batch_read_keeps_inherited_deletion_vectors(ds_spark, tmp_path):
    """Regression: DV dicts are suffix-keyed (_dv_key), and a shallow
    clone's manifest lists the source's files by ABSOLUTE ref — a raw
    dv.get(ref) lookup misses, silently drops the vector, and MOR-deleted
    rows come back through spark.read.format('snapshot'). The DataSource
    must match the library-API read of the same clone exactly."""
    spark = ds_spark
    src, dst = tmp_path / "src", tmp_path / "dst"
    snapshot_write(_df(spark, 0, 100, "a"), src, stats_cols=["k"], n_files=4)
    snapshot_delete_range_mor(spark, src, "k", 10, 19)
    snapshot_clone(src, dst)
    got = spark.read.format("snapshot").option("path", str(dst)).load()
    ks = sorted(r.k for r in got.collect())
    assert ks == [k for k in range(100) if not 10 <= k <= 19]
    lib = sorted(r.k for r in snapshot_read(spark, dst).collect())
    assert ks == lib
    # a MOR delete committed ON the clone (over inherited absolute refs)
    # must also stay deleted through the DataSource
    snapshot_delete_range_mor(spark, dst, "k", 50, 59)
    got2 = spark.read.format("snapshot").option("path", str(dst)).load()
    assert sorted(r.k for r in got2.collect()) == [
        k for k in range(100) if not (10 <= k <= 19) and not (50 <= k <= 59)
    ]


def test_clone_stream_read_keeps_inherited_deletion_vectors(ds_spark, tmp_path):
    """The streaming reader shares the suffix-key contract: a clone's
    initial micro-batch (all inherited files) must apply the inherited
    deletion vectors."""
    spark = ds_spark
    src, dst = tmp_path / "src", tmp_path / "dst"
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    snapshot_write(_df(spark, 0, 40, "a"), src, stats_cols=["k"], n_files=4)
    snapshot_delete_range_mor(spark, src, "k", 5, 9)
    snapshot_clone(src, dst)
    q = (
        spark.readStream.format("snapshot").option("path", str(dst)).load()
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ks = sorted(r.k for r in spark.read.parquet(str(out)).collect())
    assert ks == [k for k in range(40) if not 5 <= k <= 9]


def test_stream_tails_versions_exactly_once_across_restart(ds_spark, tmp_path):
    """availableNow micro-batches over version offsets, checkpointed by
    Spark: a restarted query with the SAME checkpoint resumes after the
    consumed versions; new appends arrive, consumed ones never repeat."""
    spark = ds_spark
    t, out, ckpt = tmp_path / "t", tmp_path / "out", tmp_path / "ckpt"
    snapshot_write(_df(spark, 0, 5, "a"), t)
    snapshot_append(_df(spark, 5, 8, "b"), t)

    def run_once():
        q = (
            spark.readStream.format("snapshot").option("path", str(t)).load()
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first = {(r.k, r.v) for r in spark.read.parquet(str(out)).collect()}
    assert first == {(k, "a") for k in range(5)} | {(k, "b") for k in (5, 6, 7)}
    # restart with the same checkpoint after more commits
    snapshot_append(_df(spark, 8, 10, "c"), t)
    run_once()
    rows = [tuple(r) for r in spark.read.parquet(str(out)).collect()]
    assert len(rows) == len(set(rows)) == 10  # no replays, no gaps


def test_batch_read_casts_widened_types(ds_spark, tmp_path):
    """A widened table (INT32 files + INT64 files under one recorded
    bigint column) reads through the DataSource at the wide type with
    values intact — the per-file Arrow cast mirrors snapshot_read's
    explicit-schema promotion."""
    spark = ds_spark
    t = tmp_path / "t"
    snapshot_write(
        spark.range(5).selectExpr("cast(id as int) k", "cast(id as float) v"), t
    )
    snapshot_append(
        spark.createDataFrame([(2**40, 9.5)], "k long, v double"), t
    )
    got = spark.read.format("snapshot").option("path", str(t)).load()
    assert dict(got.dtypes) == {"k": "bigint", "v": "double"}
    rows = {r.k: r.v for r in got.collect()}
    assert len(rows) == 6 and rows[2**40] == 9.5 and rows[3] == 3.0


def test_batch_write_appends_through_optimistic_commit(ds_spark, tmp_path):
    """df.write.format('snapshot'): append mode composes with library
    writers (one manifest per save, files+stats carried), overwrite mode
    full-replaces; both read back identically through the library API."""
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
        snapshot_history,
    )

    spark = ds_spark
    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 20, "a"), t, stats_cols=["k"], n_files=2)
    _df(spark, 20, 25, "b").write.format("snapshot").option(
        "path", str(t)
    ).mode("append").save()
    got = {(r.k, r.v) for r in snapshot_read(spark, t).collect()}
    assert got == {(k, "a") for k in range(20)} | {(k, "b") for k in range(20, 25)}
    # parent's stats carried for surviving files (commit must not strip
    # pruning metadata)
    m = _read_manifest(t, current_version(t))
    assert any("k" in s for s in m.get("stats", {}).values())
    assert snapshot_history(t)[0]["op"] == "append"
    # overwrite: full replace
    _df(spark, 100, 103, "c").write.format("snapshot").option(
        "path", str(t)
    ).mode("overwrite").save()
    assert {(r.k, r.v) for r in snapshot_read(spark, t).collect()} == {
        (k, "c") for k in (100, 101, 102)
    }


def test_batch_write_widens_and_upcasts(ds_spark, tmp_path):
    """A wider batch written through the DataSource records the widened
    types (no rewrite); a narrower one upcasts in the tasks."""
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
    )

    spark = ds_spark
    t = tmp_path / "t"
    snapshot_write(
        spark.range(5).selectExpr("cast(id as int) k", "cast(id as float) v"), t
    )
    wide = spark.createDataFrame([(2**40, 9.5)], "k long, v double")
    wide.write.format("snapshot").option("path", str(t)).mode("append").save()
    m = _read_manifest(t, current_version(t))
    assert m["types"] == {"k": "bigint", "v": "double"}
    narrow = spark.createDataFrame([(7, 1.5)], "k int, v float")
    narrow.write.format("snapshot").option("path", str(t)).mode("append").save()
    got = snapshot_read(spark, t)
    assert dict(got.dtypes) == {"k": "bigint", "v": "double"}
    rows = {r.k: r.v for r in got.collect()}
    assert rows[2**40] == 9.5 and rows[7] == 1.5 and len(rows) == 7


def test_batch_write_speaks_logical_names_on_mapped_tables(ds_spark, tmp_path):
    spark = ds_spark
    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 4, "a"), t)
    snapshot_enable_column_mapping(spark, t)
    snapshot_rename_column(t, "v", "label")
    batch = spark.createDataFrame([(100, "z")], "k long, label string")
    batch.write.format("snapshot").option("path", str(t)).mode("append").save()
    got = snapshot_read(spark, t)
    assert set(got.columns) == {"k", "label"}
    assert (100, "z") in {(r.k, r.label) for r in got.collect()}
    # unknown logical column fails loudly at plan time
    bad = spark.createDataFrame([(1, "x")], "k long, nope string")
    with pytest.raises(Exception, match="column mapping"):
        bad.write.format("snapshot").option("path", str(t)).mode("append").save()


def test_batch_write_refuses_constrained_tables(ds_spark, tmp_path):
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_set_constraint,
    )

    spark = ds_spark
    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 4, "a"), t)
    snapshot_set_constraint(spark, t, "k_nonneg", "k >= 0")
    with pytest.raises(Exception, match="CHECK constraints"):
        _df(spark, 4, 6, "b").write.format("snapshot").option(
            "path", str(t)
        ).mode("append").save()


def test_batch_write_refuses_managed_columns(ds_spark, tmp_path):
    """The arrow task writer cannot allocate identity, compute/validate
    generated columns, or materialize write defaults for omitted
    columns — each must refuse loudly (silently writing past them
    corrupts the column contract), same posture as the CHECK guard."""
    from energy_datalake_solution_spark.sources.snapshot_catalog import (
        SnapshotCatalog,
    )
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_set_column_default,
    )

    spark = ds_spark
    cat = SnapshotCatalog(spark)
    t1 = tmp_path / "ident"
    cat.sql(
        f"CREATE TABLE dsid (id bigint GENERATED ALWAYS AS IDENTITY, "
        f"v string) USING snapshot LOCATION '{t1}'"
    )
    with pytest.raises(Exception, match="IDENTITY"):
        spark.createDataFrame([("a",)], "v string").write.format(
            "snapshot"
        ).option("path", str(t1)).mode("append").save()
    t2 = tmp_path / "gen"
    cat.sql(
        f"CREATE TABLE dsgen (k bigint, "
        f"g bigint GENERATED ALWAYS AS (k + 1)) "
        f"USING snapshot LOCATION '{t2}'"
    )
    with pytest.raises(Exception, match="GENERATED"):
        spark.createDataFrame([(1,)], "k long").write.format(
            "snapshot"
        ).option("path", str(t2)).mode("append").save()
    # write default: a batch OMITTING the column refuses; one carrying
    # it writes fine
    t3 = tmp_path / "wd"
    snapshot_write(_df(spark, 0, 2, "a"), t3)
    snapshot_enable_column_mapping(spark, t3)
    snapshot_set_column_default(t3, "v", "'bulk'")
    with pytest.raises(Exception, match="write default"):
        spark.createDataFrame([(9,)], "k long").write.format(
            "snapshot"
        ).option("path", str(t3)).mode("append").save()
    spark.createDataFrame([(9, "x")], "k long, v string").write.format(
        "snapshot"
    ).option("path", str(t3)).mode("append").save()
    assert (9, "x") in {
        (r.k, r.v) for r in snapshot_read(spark, t3).collect()
    }


def test_stream_write_exactly_once_across_restart(ds_spark, tmp_path):
    """writeStream.format('snapshot'): micro-batches commit txn-stamped
    appends; restarting from the same checkpoint after more source
    commits delivers new rows exactly once (no replays, no gaps) — read
    back by BOTH the DataSource and the library API."""
    spark = ds_spark
    src, dst, ckpt = tmp_path / "src", tmp_path / "dst", tmp_path / "ckpt"
    snapshot_write(_df(spark, 0, 5, "a"), src)
    snapshot_append(_df(spark, 5, 8, "b"), src)

    def run_once():
        q = (
            spark.readStream.format("snapshot").option("path", str(src)).load()
            .writeStream.format("snapshot")
            .option("path", str(dst))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first = {(r.k, r.v) for r in snapshot_read(spark, dst).collect()}
    assert first == {(k, "a") for k in range(5)} | {(k, "b") for k in (5, 6, 7)}
    snapshot_append(_df(spark, 8, 10, "c"), src)
    run_once()
    lib = [(r.k, r.v) for r in snapshot_read(spark, dst).collect()]
    assert len(lib) == len(set(lib)) == 10
    via_ds = [
        (r.k, r.v)
        for r in spark.read.format("snapshot")
        .option("path", str(dst)).load().collect()
    ]
    assert sorted(via_ds) == sorted(lib)


def test_batch_read_additive_schema_evolution(ds_spark, tmp_path):
    """Regression (found via the SQL catalog): an unmapped table whose
    later files ADD a column must read through the DataSource with
    pre-evolution rows NULL-filled — each file projects onto the declared
    unified schema instead of failing the engine's column-count check."""
    spark = ds_spark
    t = tmp_path / "t"
    snapshot_write(spark.range(3).selectExpr("id AS k"), t)
    snapshot_append(
        spark.range(3, 5).selectExpr("id AS k", "id * 2 AS extra"), t
    )
    got = spark.read.format("snapshot").option("path", str(t)).load()
    rows = {r.k: r.extra for r in got.collect()}
    assert rows == {0: None, 1: None, 2: None, 3: 6, 4: 8}


def test_batch_read_strips_provenance_after_mor_update(ds_spark, tmp_path):
    """r10 ADVICE (high) regression: MOR updates append files carrying the
    reserved _prov_fp/_prov_ri columns; the DataSource's schema AND rows
    must strip them exactly like the library read paths — otherwise an
    INSERT INTO t SELECT * FROM t round-trip writes them back as data."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_update_range_mor,
    )

    spark = ds_spark
    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 20, "a"), t, stats_cols=["k"], n_files=2)
    snapshot_update_range_mor(spark, t, "k", 5, 9, {"v": F.lit("upd")})
    got = spark.read.format("snapshot").option("path", str(t)).load()
    assert got.columns == ["k", "v"], "provenance columns leaked"
    lib = snapshot_read(spark, t)
    assert {(r.k, r.v) for r in got.collect()} == {
        (r.k, r.v) for r in lib.collect()
    }
    assert {r.v for r in got.where(F.col("k").between(5, 9)).collect()} == {
        "upd"
    }


def test_stream_change_feed_emits_net_row_changes(ds_spark, tmp_path):
    """readChangeFeed streaming: per commit step the batch carries net
    row-level changes — inserts for added files, deletes for DV-delta
    positions and removed files, _commit_version stamping every record.
    A MOR update surfaces as delete(old)+insert(new) in one commit."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_delete_range_mor,
        snapshot_update_range_mor,
        snapshot_write,
    )

    spark = ds_spark
    t, out, ckpt = tmp_path / "t", tmp_path / "out", tmp_path / "ckpt"
    snapshot_write(_df(spark, 0, 10, "a"), t, stats_cols=["k"], n_files=2)  # v1
    snapshot_append(_df(spark, 10, 13, "b"), t)                             # v2
    snapshot_delete_range_mor(spark, t, "k", 3, 4)                          # v3
    snapshot_update_range_mor(spark, t, "k", 7, 7, {"v": F.lit("upd")})     # v4

    q = (
        spark.readStream.format("snapshot")
        .option("path", str(t))
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(str(out)).collect()
    by = {}
    for r in rows:
        by.setdefault((r._commit_version, r._change_type), set()).add((r.k, r.v))
    assert by[(1, "insert")] == {(k, "a") for k in range(10)}
    assert by[(2, "insert")] == {(k, "b") for k in (10, 11, 12)}
    assert by[(3, "delete")] == {(3, "a"), (4, "a")}
    assert by[(4, "delete")] == {(7, "a")}
    assert by[(4, "insert")] == {(7, "upd")}
    assert set(by) == {(1, "insert"), (2, "insert"), (3, "delete"),
                       (4, "delete"), (4, "insert")}

    # restart with the same checkpoint: nothing re-emits; a new commit
    # arrives as its own step
    snapshot_append(_df(spark, 100, 102, "c"), t)  # v5
    q = (
        spark.readStream.format("snapshot")
        .option("path", str(t))
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows2 = spark.read.parquet(str(out)).collect()
    assert len(rows2) == len(rows) + 2
    new = [r for r in rows2 if r._commit_version == 5]
    assert {(r.k, r.v, r._change_type) for r in new} == {
        (100, "c", "insert"), (101, "c", "insert")
    }

    # batch reads refuse the streaming-only option loudly
    with pytest.raises(Exception, match="readChangeFeed"):
        (
            spark.read.format("snapshot")
            .option("path", str(t))
            .option("readChangeFeed", "true")
            .load()
            .collect()
        )


def test_stream_change_feed_drives_exactly_once_mirror(ds_spark, tmp_path):
    """End-to-end continuous replication THROUGH Structured Streaming:
    the change-feed stream feeds a foreachBatch sink that reduces per
    key (insert wins over delete, latest _commit_version first) and
    applies one txn-stamped conditional merge per micro-batch — replica
    equals source after every trigger, and a rerun with the same
    checkpoint replays nothing."""
    from pyspark.sql import Window

    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_delete_range_mor,
        snapshot_merge,
        snapshot_read,
        snapshot_update_range_mor,
        snapshot_write,
    )

    spark = ds_spark
    src, rep, ckpt = tmp_path / "src", tmp_path / "rep", tmp_path / "ckpt"
    snapshot_write(_df(spark, 0, 20, "a"), src, stats_cols=["k"], n_files=2)
    snapshot_update_range_mor(spark, src, "k", 0, 4, {"v": F.lit("u")})
    snapshot_delete_range_mor(spark, src, "k", 10, 14)
    snapshot_append(_df(spark, 50, 55, "n"), src)

    def apply_batch(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        # multi-commit batch: the LATEST commit decides a key's fate;
        # within one commit a MOR update's delete(old)+insert(new) tie
        # resolves to the insert (the row lives at the commit's end)
        w = Window.partitionBy("k").orderBy(
            F.col("_commit_version").desc(),
            (F.col("_change_type") == "delete").cast("int").asc(),
        )
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .where("_rn = 1").drop("_rn")
        )
        changes = latest.select(
            "k",
            F.when(F.col("_change_type") == "delete", F.lit(None))
            .otherwise(F.col("v")).alias("v"),
        )
        snapshot_merge(
            batch_df.sparkSession, changes, rep, ["k"],
            matched_update={"v": "s.v"},
            matched_update_condition="s.v IS NOT NULL",
            matched_delete=True,
            matched_delete_condition="s.v IS NULL",
            not_matched_insert=True,
            not_matched_condition="s.v IS NOT NULL",
            txn=batch_id, txn_app="cdf-mirror",
        )

    def run():
        q = (
            spark.readStream.format("snapshot")
            .option("path", str(src))
            .option("readChangeFeed", "true")
            .load()
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def content(t):
        return {(r.k, r.v) for r in snapshot_read(spark, t).collect()}

    run()
    assert content(rep) == content(src)
    # source advances; a second trigger catches up without replaying
    snapshot_update_range_mor(spark, src, "k", 50, 52, {"v": F.lit("u2")})
    snapshot_delete_range_mor(spark, src, "k", 0, 1)
    run()
    assert content(rep) == content(src)
    # idle rerun: byte-level no-op on the replica
    import hashlib

    h = {
        f.name: hashlib.sha256(f.read_bytes()).hexdigest()
        for f in rep.rglob("*.parquet")
    }
    run()
    assert {
        f.name: hashlib.sha256(f.read_bytes()).hexdigest()
        for f in rep.rglob("*.parquet")
    } == h


def test_stream_change_feed_across_rename_restart_contract(ds_spark, tmp_path):
    """Structured Streaming's fixed-schema contract over the CDF stream:
    a rename landing between runs means the continuation either fails
    loudly or keeps the pinned names — never silently mixes — and a
    FRESH checkpoint picks up the new logical names."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_enable_column_mapping,
        snapshot_rename_column,
        snapshot_write,
    )

    spark = ds_spark
    t = tmp_path / "t"
    out1, ck1 = tmp_path / "o1", tmp_path / "c1"
    out2, ck2 = tmp_path / "o2", tmp_path / "c2"
    snapshot_write(_df(spark, 0, 5, "a"), t, stats_cols=["k"], n_files=1)

    def run(out, ck):
        q = (
            spark.readStream.format("snapshot")
            .option("path", str(t))
            .option("readChangeFeed", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(out1, ck1)
    assert {r.k for r in spark.read.parquet(str(out1)).collect()} == set(range(5))
    snapshot_enable_column_mapping(spark, t)
    snapshot_rename_column(t, "v", "val")
    snapshot_append(_df(spark, 5, 7, "b").withColumnRenamed("v", "val"), t)
    # continuation with the OLD checkpoint: loud failure or pinned-name
    # success — assert it never emits a frame mixing old and new names
    try:
        run(out1, ck1)
        cols = set(spark.read.parquet(str(out1)).columns)
        assert not {"v", "val"} <= cols, "mixed old/new column names"
    except Exception:
        pass  # loud failure is the documented restart contract
    # a fresh checkpoint resolves the CURRENT schema (new names)
    run(out2, ck2)
    df2 = spark.read.parquet(str(out2))
    assert "val" in df2.columns and "v" not in df2.columns
    assert {r.k for r in df2.collect()} == set(range(7))


def test_stream_change_feed_skips_orphan_versions(ds_spark, tmp_path):
    """The change feed follows the PUBLISHED parent chain, not
    consecutive version numbers: a rolled-back version (the same shape a
    losing optimistic-commit racer or an aborted transaction leaves on
    disk) occupies an interior number the committed ancestry skips — its
    never-committed rows must not surface as insert@orphan +
    delete@next."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_rollback,
    )

    spark = ds_spark
    t, out, ckpt = tmp_path / "t", tmp_path / "out", tmp_path / "ckpt"
    snapshot_write(_df(spark, 0, 5, "a"), t, stats_cols=["k"])   # v1
    snapshot_append(_df(spark, 50, 55, "orphan"), t)             # v2
    snapshot_rollback(t, 1)
    snapshot_append(_df(spark, 5, 8, "b"), t)  # v3, parent=1 (v2 orphaned)

    q = (
        spark.readStream.format("snapshot")
        .option("path", str(t))
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(str(out)).collect()
    assert all(r.v != "orphan" for r in rows), (
        "uncommitted (rolled-back) rows leaked into the change feed"
    )
    by = {(r._commit_version, r._change_type, r.k) for r in rows}
    assert by == (
        {(1, "insert", k) for k in range(5)}
        | {(3, "insert", k) for k in (5, 6, 7)}
    )


def test_stream_max_files_per_trigger_paces_batches(ds_spark, tmp_path):
    """maxFilesPerTrigger: a multi-commit backlog drains as several
    bounded micro-batches (offsets split MID-version) instead of one
    giant batch, exactly-once overall."""
    spark = ds_spark
    t, ckpt = tmp_path / "t", tmp_path / "ckpt"
    snapshot_write(_df(spark, 0, 40, "a"), t, stats_cols=["k"], n_files=4)
    snapshot_append(
        _df(spark, 40, 80, "b").repartitionByRange(4, "k"), t
    )  # 8 data files total, 2 commits
    batches: list[tuple[int, int]] = []
    seen: list[tuple] = []

    def sink(df, bid):
        rows = df.collect()
        batches.append((bid, len(rows)))
        seen.extend((r.k, r.v) for r in rows)

    q = (
        spark.readStream.format("snapshot")
        .option("path", str(t))
        .option("maxFilesPerTrigger", "2")
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(ckpt))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(seen) == sorted(
        [(k, "a") for k in range(40)] + [(k, "b") for k in range(40, 80)]
    ), "paced drain must be exactly-once"
    nonempty = [n for _, n in batches if n]
    assert len(nonempty) >= 4, f"8 files at 2/trigger: got {batches}"
    # 2 range-split files of ~10 rows can never reach 30
    assert max(nonempty) < 30, f"a batch exceeded the file cap: {batches}"


def test_stream_max_bytes_per_trigger_one_file_floor(ds_spark, tmp_path):
    """maxBytesPerTrigger='1b' floors at one file per batch (a file
    larger than the cap still flows) — so every data file arrives as its
    own micro-batch."""
    spark = ds_spark
    t, ckpt = tmp_path / "t", tmp_path / "ckpt"
    snapshot_write(_df(spark, 0, 30, "a"), t, stats_cols=["k"], n_files=3)
    counts: list[int] = []
    q = (
        spark.readStream.format("snapshot")
        .option("path", str(t))
        .option("maxBytesPerTrigger", "1b")
        .load()
        .writeStream.foreachBatch(lambda df, bid: counts.append(df.count()))
        .option("checkpointLocation", str(ckpt))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sum(counts) == 30
    assert len([n for n in counts if n]) == 3, counts


def test_stream_rate_limit_restart_at_split_boundary(ds_spark, tmp_path):
    """Crash/restart at a mid-version offset: availableNow fixes its
    target at the first latestOffset, so with a limit each RUN drains
    one paced slice, leaving the checkpoint MID-version (e.g.
    {"version": 1, "index": 2}). Every restarted run resumes from that
    split — remaining step files and later commits arrive in later
    slices, consumed slices never repeat: no file skipped or doubled,
    and pacing holds across restarts (the replayed checkpoint batch
    re-anchors the reader before the new offset is asked for)."""
    spark = ds_spark
    t, out, ckpt = tmp_path / "t", tmp_path / "out", tmp_path / "ckpt"
    snapshot_write(_df(spark, 0, 50, "a"), t, stats_cols=["k"], n_files=5)

    def run():
        q = (
            spark.readStream.format("snapshot").option("path", str(t))
            .option("maxFilesPerTrigger", "2")
            .load()
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = [tuple(r) for r in spark.read.parquet(str(out)).collect()]
        assert len(rows) == len(set(rows)), "a slice replayed"
        return rows

    first = run()
    assert 0 < len(first) < 50, (
        f"first run must stop at the split, got {len(first)} rows"
    )
    # more data lands while the stream is down
    snapshot_append(_df(spark, 50, 55, "b").coalesce(1), t)
    sizes = [len(first)]
    for _ in range(12):  # paced restarts: each drains ≤ 2 files
        sizes.append(len(run()))
        if sizes[-1] == sizes[-2]:
            break
    assert sizes[-1] == 55, f"drain stalled or lost rows: {sizes}"
    assert len(sizes) > 3, f"restarts were not paced: {sizes}"
    rows = [tuple(r) for r in spark.read.parquet(str(out)).collect()]
    assert sorted(rows) == sorted(
        [(k, "a") for k in range(50)] + [(k, "b") for k in range(50, 55)]
    )


def test_stream_rate_limit_rejects_change_feed(ds_spark, tmp_path):
    spark = ds_spark
    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 3, "a"), t)
    with pytest.raises(ValueError, match="maxFilesPerTrigger"):
        # streamReader is where the option combination resolves (the
        # engine reaches it lazily at query start, wrapping the error)
        SnapshotDataSource(
            options={
                "path": str(t),
                "readChangeFeed": "true",
                "maxFilesPerTrigger": "1",
            }
        ).streamReader(None)


def test_stream_starting_timestamp_and_latest(ds_spark, tmp_path):
    """startingTimestamp includes every commit stamped at-or-after the
    given time; startingVersion='latest' streams only FUTURE commits."""
    import json as _json

    from energy_datalake_solution_spark.sources.snapshots import (
        _manifest_path,
    )

    spark = ds_spark
    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 3, "a"), t)         # v1
    snapshot_append(_df(spark, 3, 6, "b"), t)        # v2
    snapshot_append(_df(spark, 6, 9, "c"), t)        # v3
    ts_v2 = _json.loads(_manifest_path(t, 2).read_text())["ts"]

    def drain(reader_opts, out, ckpt):
        r = spark.readStream.format("snapshot").option("path", str(t))
        for k, v in reader_opts.items():
            r = r.option(k, v)
        q = (
            r.load().writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        import os as _os

        if not any(
            f.endswith(".parquet") for f in _os.listdir(out)
        ):
            return set()
        return {r_.v for r_ in spark.read.parquet(str(out)).collect()}

    # at-or-after v2's stamp: v2 and v3 arrive, v1 does not
    got = drain(
        {"startingTimestamp": str(ts_v2)},
        tmp_path / "o1", tmp_path / "c1",
    )
    assert got == {"b", "c"}
    # timestamp after the tip: nothing historical
    got = drain(
        {"startingTimestamp": str(ts_v2 + 10**6)},
        tmp_path / "o2", tmp_path / "c2",
    )
    assert got == set()
    # 'latest': nothing historical either; a NEW commit then arrives
    out3, c3 = tmp_path / "o3", tmp_path / "c3"
    got = drain({"startingVersion": "latest"}, out3, c3)
    assert got == set()
    snapshot_append(_df(spark, 9, 11, "d"), t)
    got = drain({"startingVersion": "latest"}, out3, c3)
    assert got == {"d"}  # checkpoint pins the original start
    # both options refuse
    with pytest.raises(ValueError, match="not both"):
        SnapshotDataSource(options={
            "path": str(t), "startingVersion": "2",
            "startingTimestamp": "123",
        }).streamReader(None)


def test_stream_starting_timestamp_after_vacuumed_history(ds_spark, tmp_path):
    """startingTimestamp on a vacuumed table walks only the kept history:
    a timestamp inside it streams the commits stamped at or after it
    (the walk read every manifest down to version 1 and failed on the
    first vacuumed one)."""
    import json as _json

    from energy_datalake_solution_spark.sources.snapshots import (
        _manifest_path,
        snapshot_vacuum,
    )

    spark = ds_spark
    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 3, "a"), t)   # v1
    snapshot_append(_df(spark, 3, 6, "b"), t)  # v2
    snapshot_append(_df(spark, 6, 9, "c"), t)  # v3
    snapshot_vacuum(t, keep_versions=2)        # v1's manifest is gone
    ts_v3 = _json.loads(_manifest_path(t, 3).read_text())["ts"]
    r = SnapshotDataSource(options={
        "path": str(t), "startingTimestamp": str(ts_v3),
    }).streamReader(None)
    assert r.initialOffset() == {"version": 2}
    rows = [
        row
        for part in r.partitions(r.initialOffset(), r.latestOffset())
        for batch in r.read(part)
        for row in batch.to_pylist()
    ]
    assert sorted((x["k"], x["v"]) for x in rows) == [
        (6, "c"), (7, "c"), (8, "c")
    ]


def test_batch_time_travel_via_timestamp_option(ds_spark, tmp_path):
    """timestampAsOf resolves the latest commit stamped at-or-before the
    given time (Delta's batch TIMESTAMP AS OF); schema resolves at the
    same version; combining with version refuses."""
    import json as _json

    from energy_datalake_solution_spark.sources.snapshots import (
        _manifest_path,
        snapshot_add_column,
        snapshot_enable_column_mapping,
    )

    spark = ds_spark
    t = tmp_path / "t"
    snapshot_write(_df(spark, 0, 5, "a"), t)                 # v1
    snapshot_append(_df(spark, 5, 8, "b"), t)                # v2
    snapshot_enable_column_mapping(spark, t)                 # v3
    snapshot_add_column(t, "extra", "bigint")                # v4
    ts_v2 = _json.loads(_manifest_path(t, 2).read_text())["ts"]

    got = (
        spark.read.format("snapshot")
        .option("path", str(t))
        .option("timestampAsOf", str(ts_v2))
        .load()
    )
    # pinned at v2: 8 rows, and the v4 column does NOT exist yet
    assert got.count() == 8 and "extra" not in got.columns
    # at-or-before just under v2's stamp resolves v1
    got1 = (
        spark.read.format("snapshot")
        .option("path", str(t))
        .option("timestampAsOf", str(ts_v2 - 0.001))
        .load()
    )
    assert got1.count() == 5
    with pytest.raises(Exception, match="not both"):
        (
            spark.read.format("snapshot")
            .option("path", str(t))
            .option("version", "1")
            .option("timestampAsOf", str(ts_v2))
            .load()
        ).count()


def test_stream_rate_limit_with_concurrent_writer(ds_spark, tmp_path):
    """A writer landing NEW commits while a paced stream drains its
    backlog: every pre-existing and newly-committed row arrives exactly
    once — the pacing walk follows the committed chain as it grows."""
    spark = ds_spark
    t, ckpt = tmp_path / "t", tmp_path / "ckpt"
    snapshot_write(_df(spark, 0, 40, "a"), t, stats_cols=["k"], n_files=4)
    seen: list[tuple] = []
    appended = {"n": 0}

    def sink(df, bid):
        rows = df.collect()
        seen.extend((r.k, r.v) for r in rows)
        # the "concurrent" writer: land a new commit from inside the
        # first few micro-batches (deterministic interleaving)
        if appended["n"] < 3:
            i = appended["n"]
            snapshot_append(
                _df(spark, 100 + i * 5, 105 + i * 5, "w").coalesce(1), t
            )
            appended["n"] += 1

    q = (
        spark.readStream.format("snapshot")
        .option("path", str(t))
        .option("maxFilesPerTrigger", "1")
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(ckpt))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    want = sorted(
        [(k, "a") for k in range(40)]
        + [(100 + i * 5 + j, "w") for i in range(3) for j in range(5)]
    )
    assert sorted(seen) == want, (
        f"paced drain under concurrent writes lost/doubled rows "
        f"(got {len(seen)}, want {len(want)})"
    )


def _ts_df(spark, lo, hi):
    # Spark writes TIMESTAMP columns as parquet INT96
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.timestamp_seconds(F.col("id") * 3600 + 1_700_000_000).alias("ts"),
    )


def test_catalog_read_of_timestamp_column(ds_spark, tmp_path):
    """INT96 timestamps read through the Python source come back at
    microsecond precision, the unit Spark's Arrow bridge accepts."""
    from energy_datalake_solution_spark.sources.snapshot_catalog import (
        SnapshotCatalog,
    )

    spark = ds_spark
    t = tmp_path / "t"
    snapshot_write(_ts_df(spark, 0, 5), t)
    want = snapshot_read(spark, t).agg(F.count("*"), F.max("ts")).first()
    cat = SnapshotCatalog(spark)
    cat.sql(f"CREATE TABLE ts_tbl USING snapshot LOCATION '{t}'")
    got = cat.sql("SELECT count(*) AS n, max(ts) AS hi FROM ts_tbl").first()
    assert (got.n, got.hi) == (5, want[1])
    fmt = spark.read.format("snapshot").option("path", str(t)).load()
    assert sorted(tuple(r) for r in fmt.collect()) == sorted(
        tuple(r) for r in snapshot_read(spark, t).collect()
    )


def test_stream_change_feed_of_timestamp_column(ds_spark, tmp_path):
    spark = ds_spark
    t, out, ckpt = tmp_path / "t", tmp_path / "out", tmp_path / "ckpt"
    snapshot_write(_ts_df(spark, 0, 5), t)                 # v1
    snapshot_append(_ts_df(spark, 5, 7), t)                # v2
    snapshot_delete_range_mor(spark, t, "k", 1, 1)         # v3
    q = (
        spark.readStream.format("snapshot")
        .option("path", str(t))
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ts = {r.k: r.ts for r in _ts_df(spark, 0, 7).collect()}
    got = {
        (r._commit_version, r._change_type, r.k, r.ts)
        for r in spark.read.parquet(str(out)).collect()
    }
    assert got == (
        {(1, "insert", k, ts[k]) for k in range(5)}
        | {(2, "insert", k, ts[k]) for k in (5, 6)}
        | {(3, "delete", 1, ts[1])}
    )
