"""The manifest every full-replace write commits, pinned per layout.

One seeded batch (``k`` 0..1999 with three derived columns) is written
once per layout: plain, range split with stats, Bloom filters beside
stats, a 3-column z-order, hash buckets and a 2-column partition spec.
Two more cases write into a column-mapped table (stats and blooms keyed
by physical names) and into an identity table (routed through the
allocating replace-where, then a bloom backfill).

Each case checks the committed manifest: its ``op``, the file count, the
stats of every file (file names are random, so files are compared as a
sorted list of their stats), the bloom columns of every file, and the
``partitioning``, ``bucketing`` and ``types`` metadata; then it reads the
rows back.
"""
import pytest
from pyspark.sql import functions as F

from energy_datalake_solution_spark.sources import snapshots as S
from energy_datalake_solution_spark.sources.snapshot_catalog import (
    SnapshotCatalog,
)

ROWS = S._ROWS_KEY


def _batch(spark, lo=0, hi=2000):
    return spark.range(lo, hi, numPartitions=4).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).alias("u"),
        ((F.col("id") * 7) % 101).alias("v"),
        (F.col("id") % 3).alias("p"),
        (F.col("id") % 2).alias("q"),
    )


def _manifest(t):
    return S._read_manifest(t, S.current_version(t))


def _summary(m):
    files = m["files"]
    stats = m.get("stats") or {}
    blooms = m.get("blooms") or {}
    return {
        "op": m.get("op"),
        "n_files": len(files),
        "stats": sorted(
            (sorted((c, tuple(s) if isinstance(s, list) else s)
                    for c, s in stats.get(f, {}).items())
             for f in files),
        ),
        "bloom_cols": sorted(tuple(sorted(blooms.get(f, {}))) for f in files),
        "partitioning": m.get("partitioning"),
        "bucketing": (
            {k: v for k, v in m["bucketing"].items()}
            if m.get("bucketing") else None
        ),
        "types": m.get("types"),
    }


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class RangeSplit:
    """Stats of a range split of k into ``n`` files: the files' k spans
    are disjoint, contiguous and cover 0..1999, each file's row count is
    its span's width, and every other stats column has the given value.
    The split points are sampled, so they are not pinned themselves."""

    def __init__(self, n, **extra):
        self.n, self.extra = n, extra

    def __eq__(self, stats):
        spans = []
        for entry in stats:
            s = dict(entry)
            lo, hi, nulls = s.pop("k")
            if nulls != 0 or s.pop(ROWS) != hi - lo + 1 or s != self.extra:
                return False
            spans.append((lo, hi))
        spans.sort()
        return (
            len(spans) == self.n and spans[0][0] == 0
            and spans[-1][1] == 1999
            and all(a[1] + 1 == b[0] for a, b in zip(spans, spans[1:]))
        )

    def __repr__(self):
        return f"RangeSplit({self.n}, **{self.extra})"


def _mapped(spark, t):
    """A column-mapped table: logical ``label`` is stored as physical
    ``v``, and ``u`` was widened int -> bigint."""
    S.snapshot_write(_batch(spark).withColumn("u", F.col("u").cast("int")), t)
    S.snapshot_enable_column_mapping(spark, t)
    S.snapshot_rename_column(t, "v", "label")
    S.snapshot_widen_column(spark, t, "u", "bigint")
    assert _manifest(t)["types"]


def _identity(spark, t):
    """An identity table: ``id`` is GENERATED ALWAYS AS IDENTITY."""
    cat = SnapshotCatalog(spark)
    cat.sql(
        f"CREATE TABLE wr_ident (id bigint GENERATED ALWAYS AS IDENTITY, "
        f"k bigint, u bigint) USING snapshot LOCATION '{t}'"
    )
    cat.sql("INSERT INTO wr_ident (k, u) VALUES (1, 1), (2, 2)")


def _labelled(spark):
    return _batch(spark).withColumnRenamed("v", "label")


# name -> (prep, write, commits, expected manifest summary, rows written)
CASES = {
    "plain": (
        None,
        lambda spark, t: S.snapshot_write(_batch(spark).coalesce(2), t),
        1,
        {"op": "write", "n_files": 2, "stats": [[], []],
         "bloom_cols": [(), ()]},
        _batch,
    ),
    "stats-n-files": (
        None,
        lambda spark, t: S.snapshot_write(
            _batch(spark), t, stats_cols=["k"], n_files=4
        ),
        1,
        {"op": "write", "n_files": 4, "stats": RangeSplit(4),
         "bloom_cols": [()] * 4},
        _batch,
    ),
    "bloom-stats": (
        None,
        lambda spark, t: S.snapshot_write(
            _batch(spark), t, bloom_cols=["u"], stats_cols=["k"], n_files=4
        ),
        1,
        {"op": "write", "n_files": 4, "stats": RangeSplit(4),
         "bloom_cols": [("u",)] * 4},
        _batch,
    ),
    "zorder-3": (
        None,
        lambda spark, t: S.snapshot_write(
            _batch(spark), t, zorder_by=["k", "u", "v"], n_files=4
        ),
        1,
        {"op": "write", "n_files": 4,
         "stats": sorted([
             [(ROWS, 490), ("k", (48, 969, 0)), ("u", (48, 96, 0)),
              ("v", (1, 100, 0))],
             [(ROWS, 498), ("k", (1000, 1987, 0)), ("u", (0, 47, 0)),
              ("v", (0, 100, 0))],
             [(ROWS, 502), ("k", (1018, 1999, 0)), ("u", (48, 96, 0)),
              ("v", (0, 100, 0))],
             [(ROWS, 510), ("k", (0, 999, 0)), ("u", (0, 47, 0)),
              ("v", (0, 100, 0))],
         ]),
         "bloom_cols": [()] * 4},
        _batch,
    ),
    "bucketed": (
        None,
        lambda spark, t: S.snapshot_write(_batch(spark), t, bucket_by=("k", 4)),
        1,
        # four input tasks, each writing one file per bucket
        {"op": "write-bucketed", "n_files": 16, "stats": [[]] * 16,
         "bloom_cols": [()] * 16,
         "bucketing": {
             "col": "k", "n": 4,
             "ddl": "`k` bigint, `u` bigint, `v` bigint, `p` bigint, "
                    "`q` bigint",
         }},
        _batch,
    ),
    "partitioned-2": (
        None,
        lambda spark, t: S.snapshot_write(
            _batch(spark), t, partition_by=["p", "q"]
        ),
        1,
        # one file per (p, q) tuple, with exact point stats on both
        {"op": "write-part", "n_files": 6,
         "stats": sorted(
             [(ROWS, 334 if p == q else 333), ("p", (p, p, 0)),
              ("q", (q, q, 0))]
             for p in range(3) for q in range(2)
         ),
         "bloom_cols": [()] * 6,
         "partitioning": {"cols": ["p", "q"]}},
        _batch,
    ),
    "mapped": (
        _mapped,
        lambda spark, t: S.snapshot_write(
            _labelled(spark), t, bloom_cols=["label"],
            stats_cols=["k", "label"], n_files=2,
        ),
        1,
        # stats and blooms keyed by the PHYSICAL name v; types cleared
        {"op": "write", "n_files": 2,
         "stats": RangeSplit(2, v=(0, 100, 0)),
         "bloom_cols": [("v",)] * 2},
        _labelled,
    ),
    "identity": (
        _identity,
        lambda spark, t: S.snapshot_write(
            _batch(spark).select("k", "u"), t, bloom_cols=["u"],
            stats_cols=["k"], n_files=2,
        ),
        # routed through replace-where (ids allocated), then the blooms
        # are backfilled in a second commit
        2,
        {"op": "analyze-blooms", "n_files": 1,
         "stats": [[(ROWS, 2000), ("k", (0, 1999, 0))]],
         "bloom_cols": [("u",)]},
        lambda spark: _batch(spark).select("k", "u"),
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_write_commits_pinned_manifest(spark, tmp_path, case):
    prep, write, commits, expected, written = CASES[case]
    t = tmp_path / "t"
    if prep is not None:
        prep(spark, t)
    v_pre = S.current_version(t)

    v = write(spark, t)

    assert v == v_pre + commits == S.current_version(t)
    assert _summary(_manifest(t)) == {
        "partitioning": None, "bucketing": None, "types": None, **expected,
    }
    got = S.snapshot_read(spark, t)
    if case == "identity":
        ids = [r["id"] for r in got.select("id").collect()]
        assert None not in ids and len(set(ids)) == len(ids)
        got = got.drop("id")
    assert got.columns == written(spark).columns
    assert _rows(got) == _rows(written(spark))


def test_layout_files_carry_their_layout(spark, tmp_path):
    """Bucketed files are named by bucket id; partitioned files hold one
    (p, q) tuple each."""
    tb, tp = tmp_path / "b", tmp_path / "p"
    CASES["bucketed"][1](spark, tb)
    CASES["partitioned-2"][1](spark, tp)
    buckets = {
        int(S._BUCKET_FILE_RE.search(f).group(1))
        for f in _manifest(tb)["files"]
    }
    assert buckets == {0, 1, 2, 3}
    for f in _manifest(tp)["files"]:
        df = spark.read.parquet(str(tp / f))
        assert df.select("p", "q").distinct().count() == 1


def test_identity_and_mapped_tables_refuse_file_layouts(spark, tmp_path):
    ti, tm = tmp_path / "i", tmp_path / "m"
    _identity(spark, ti)
    _mapped(spark, tm)
    batch = _batch(spark).select("k", "u")
    with pytest.raises(ValueError, match="column-mapped"):
        S.snapshot_write(batch, ti, bucket_by=("k", 4))
    with pytest.raises(NotImplementedError, match="IDENTITY"):
        S.snapshot_write(batch, ti, partition_by=["k"])
    with pytest.raises(ValueError, match="column-mapped"):
        S.snapshot_write(_labelled(spark), tm, bucket_by=("k", 4))
    assert S.current_version(ti) == 2


@pytest.mark.parametrize("layout", [
    {"zorder_by": ["k"], "bucket_by": ("k", 4)},
    {"zorder_by": ["k"], "partition_by": ["p"]},
    {"bucket_by": ("k", 4), "partition_by": ["p"]},
    {"bucket_by": ("k", 4), "n_files": 2},
    {"partition_by": ["p"], "n_files": 2},
])
def test_write_takes_one_layout(spark, tmp_path, layout):
    t = tmp_path / "t"
    with pytest.raises(ValueError, match="one layout"):
        S.snapshot_write(_batch(spark), t, **layout)
    assert S.current_version(t) == 0
