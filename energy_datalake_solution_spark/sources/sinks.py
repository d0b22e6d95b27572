"""Write-side layout control — the levers that make 100 TB queries cheap.

The reference's only layout decision is Hive date-partitioning
(glue_jobs/dynamic-data-processor.py:153-155). At lake scale three more
matter, all expressed here over plain Spark APIs:

  * partitioned append/overwrite: partition pruning for time-scoped reads;
    dynamic partition overwrite rewrites only touched dates.
  * bucketed tables: pre-shuffle the table ONCE by its join/agg key; every
    later equi-join or groupBy on that key skips its shuffle (sort-merge
    join with zero exchange). Bucketing requires saveAsTable (metastore
    bookkeeping).
  * sorted-within-partition files: parquet row-group min/max on the sort
    column become selective — point/range predicates skip most row groups.
  * compaction: streaming/micro-batch appends leave small files; rewrite a
    partition into target-size files (the small-files problem is the #1
    operational scale killer).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str | Path,
    partition_col: str,
    mode: str = "append",
    dynamic_overwrite: bool = True,
) -> None:
    """Hive-partitioned parquet write; with mode='overwrite' and dynamic
    overwrite enabled, only partitions present in df are replaced."""
    spark = df.sparkSession
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    # single write expression; only the conf toggle is conditional (a
    # forked write call invites options drifting between the branches)
    toggle = mode == "overwrite" and dynamic_overwrite
    prev = spark.conf.get(conf_key, "static") if toggle else None
    if toggle:
        spark.conf.set(conf_key, "dynamic")
    try:
        df.write.mode(mode).partitionBy(partition_col).parquet(str(path))
    finally:
        if toggle:
            spark.conf.set(conf_key, prev)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    Joins/aggregations on bucket_col between two tables bucketed the same
    way run with NO exchange — check the plan: SortMergeJoin over two
    FileScans, no Exchange node.
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table_name, format="parquet")


def write_sorted(
    df: DataFrame, path: str | Path, sort_col: str, n_files: int = 8
) -> None:
    """Range-partition by the sort column and sort within each file so
    parquet row-group min/max statistics are maximally selective."""
    (
        df.repartitionByRange(n_files, F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(str(path))
    )


def _partition_tokens(spark, n: int) -> list[int]:
    """For each partition id p in [0, n), a small integer token whose
    Spark Murmur3 ``pmod(hash(token), n)`` equals p. ``repartition(n,
    token_col)`` then places rows EXACTLY where the token says —
    deterministic across runs (Murmur3 seed is fixed at 42), unlike
    ``repartitionByRange`` whose boundaries come from reservoir sampling
    seeded by the transient RDD id. Found once per (SparkContext, n) with
    a tiny spark.range job (coupon-collector: ~n ln n candidates)."""
    key = (id(spark.sparkContext), n)
    cached = _PARTITION_TOKEN_CACHE.get(key)
    if cached is not None:
        return cached
    tokens: dict[int, int] = {}
    lo, width = 0, max(64, 32 * n)
    while len(tokens) < n:
        rows = (
            spark.range(lo, lo + width)
            .select(
                F.col("id"),
                F.pmod(F.hash(F.col("id").cast("long")), F.lit(n)).alias("p"),
            )
            .groupBy("p")
            .agg(F.min("id").alias("tok"))
            .collect()
        )
        for r in rows:
            tokens.setdefault(int(r["p"]), int(r["tok"]))
        lo += width
        width *= 2
    out = [tokens[p] for p in range(n)]
    _PARTITION_TOKEN_CACHE[key] = out
    return out


_PARTITION_TOKEN_CACHE: dict[tuple, list[int]] = {}


def zorder_arrange_n(
    df: DataFrame,
    cols: list[str],
    n_files: int = 8,
    bits: int = 8,
) -> DataFrame:
    """Z-order (Morton-curve) clustered ARRANGEMENT over ``cols`` (Delta's
    OPTIMIZE ZORDER BY takes any column list): files cover compact
    N-dimensional boxes of the value space, so parquet footer min/max
    statistics prune on ANY subset of the columns — a single-column sort
    only ever prunes its own column.

    Construction in pure Spark expressions: scale each column to a
    ``bits``-bit bucket id against its global min/max (one-row
    broadcast), interleave bit ``i`` of column ``c`` to position
    ``i*N + (N-1-c)``, then DETERMINISTICALLY place the rows: file f
    receives exactly the Morton range
    ``[f * 2^(bits*N) / n_files, (f+1) * 2^(bits*N) / n_files)`` via an
    explicit z-bucket key routed through a hash-perfect token
    (``_partition_tokens``) so partition id == bucket id. Two writes of
    the same data always produce identical file boxes —
    ``repartitionByRange`` could not promise that because its boundaries
    are reservoir-sampled per run. ``bits * N`` must stay under 63 (the
    code lives in one long) — 8 bits x 3 cols = 24-bit codes, plenty:
    pruning granularity is file COUNT, not code width. At 100 TB the
    min/max agg is one cheap pass and everything else is row-local — no
    UDF, nothing collected to one process."""
    n = len(cols)
    if n < 1:
        raise ValueError("z-order needs at least 1 column")
    # N=1 degenerates exactly: bit i lands at position i, so the z-code
    # IS the quantile bucket — a plain sort-compact (Delta accepts
    # single-column ZORDER with the same meaning)
    if bits * n > 62:
        raise ValueError(f"bits*ncols = {bits * n} exceeds a long's width")
    # per-column numeric view for the curve: dates count days since
    # epoch (a bare DATE refuses the double cast), timestamps cast to
    # epoch seconds natively; non-castable types (strings, binaries,
    # arrays) refuse LOUDLY — a silent NULL bucket would collapse the
    # whole layout into one file and read as "clustered" when it isn't
    dtypes = dict(df.dtypes)

    def _num(expr):
        def conv(c):
            t = dtypes.get(c) if isinstance(c, str) else None
            if t == "date":
                return F.unix_date(F.col(c)).cast("double")
            if t is not None and not (
                t in ("tinyint", "smallint", "int", "bigint", "float",
                      "double", "boolean")
                or t.startswith(("decimal", "timestamp"))
            ):
                raise ValueError(
                    f"z-order column {c!r} has non-orderable-numeric "
                    f"type {t}: supported are numeric, decimal, "
                    "boolean, date and timestamp"
                )
            return F.col(c).cast("double")

        return conv(expr)

    aggs = []
    for i, c in enumerate(cols):
        aggs += [F.min(_num(c)).alias(f"_min_{i}"),
                 F.max(_num(c)).alias(f"_max_{i}")]
    mins = df.agg(*aggs)
    scaled = df.join(F.broadcast(mins))
    n_buckets = 1 << bits

    def _bucket(col: str, lo: str, hi: str):
        # scale in DOUBLE against the true span: the old integer idiom
        # ((col-min) * n / (range+1)) overflowed long for 64-bit key
        # ranges (negative buckets / ANSI abort) and collapsed fractional
        # ranges like [0, 0.1] into a couple of buckets; double precision
        # only feeds a floor, and the least() cap absorbs the v == max
        # edge. A zero span (constant column) maps everything to bucket 0.
        span = F.col(hi) - F.col(lo)
        frac = F.when(
            span > 0, (_num(col) - F.col(lo)) / span
        ).otherwise(F.lit(0.0))
        return F.least(F.lit(n_buckets - 1), F.floor(frac * n_buckets)).cast("long")

    buckets = [
        _bucket(c, f"_min_{i}", f"_max_{i}") for i, c in enumerate(cols)
    ]
    terms = [
        F.shiftleft(
            F.shiftright(b, i).bitwiseAND(F.lit(1)), i * n + (n - 1 - c)
        )
        for i in range(bits)
        for c, b in enumerate(buckets)
    ]
    zval = sum(terms[1:], terms[0])
    # explicit z-bucket: file f covers morton range
    # [f * 2^(bits*n) / n_files, (f+1) * 2^(bits*n) / n_files)
    tokens = _partition_tokens(df.sparkSession, n_files)
    bucket = F.floor(
        F.col("_z").cast("double") * n_files / float(n_buckets**n)
    ).cast("int")
    token_col = F.element_at(
        F.array(*[F.lit(t) for t in tokens]),
        F.least(F.lit(n_files - 1), bucket) + 1,
    ).cast("long")
    drop = [f"_min_{i}" for i in range(n)] + [f"_max_{i}" for i in range(n)]
    return (
        scaled.withColumn("_z", zval)
        .withColumn("_ztok", token_col)
        .repartition(n_files, F.col("_ztok"))
        .sortWithinPartitions("_z")
        .drop("_z", "_ztok", *drop)
    )


def write_zordered(
    df: DataFrame,
    path: str | Path,
    col_a: str,
    col_b: str,
    n_files: int = 8,
    bits: int = 8,
) -> None:
    """zorder_arrange_n over (a, b) + overwrite parquet write (the original
    sink form); snapshot_write(..., zorder_by=...) (sources/snapshots.py)
    commits the SAME arrangement through the manifest format with per-file
    stats on both columns."""
    zorder_arrange_n(
        df, [col_a, col_b], n_files=n_files, bits=bits
    ).write.mode("overwrite").parquet(str(path))


def compact_partition(
    spark: SparkSession,
    table_path: str | Path,
    partition_col: str,
    partition_value: str,
    target_files: int = 1,
) -> int:
    """Rewrite one partition into target_files files; returns rows written.

    Reads with a partition filter (pruned scan), coalesces, and uses
    dynamic partition overwrite so sibling partitions are untouched.
    """
    df = spark.read.parquet(str(table_path)).where(
        F.col(partition_col) == partition_value
    )
    # checkpoint FIRST, then count the checkpointed frame: counting the
    # raw read and then checkpointing scanned the partition twice on the
    # hot operational path
    cp = df.localCheckpoint()  # materialize before overwriting what we read
    n = cp.count()
    if n == 0:
        return 0
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf_key, "static")
    spark.conf.set(conf_key, "dynamic")
    try:
        (
            cp.coalesce(target_files)
            .write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(str(table_path))
        )
    finally:
        spark.conf.set(conf_key, prev)
    return n
