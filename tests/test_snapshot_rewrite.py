"""The manifest every file-rewriting maintenance operation commits, pinned.

One seeded table carries every piece of metadata a rewrite must keep or
rebuild:

- per-file min/max stats on ``k`` (range-split into four base files),
- a Bloom filter on ``u``,
- a column-mapped rename: logical ``label`` is stored as physical ``v``,
- a widened column ``w`` (int -> bigint, recorded in the ``types`` map),
- four small appended files (``k`` >= 5000, with stats),
- a deletion vector on the second base file (``k`` 700..709 deleted).

Each case copies the table, runs one rewrite, and checks the committed
manifest: its ``op``, which files carry over byte-identical, the stats,
bloom and DV keys of every file, the ``types`` and ``schema`` metadata, and
that the table reads exactly the same rows before and after. Cases that
must commit nothing check that the version does not move.
"""
import hashlib
import shutil

import pytest
from pyspark.sql import functions as F

from energy_datalake_solution_spark.sources import snapshots as S

ROWS = S._ROWS_KEY


@pytest.fixture(scope="module")
def seeded(spark, tmp_path_factory):
    t = tmp_path_factory.mktemp("rewrite") / "seed"

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") % 97).alias("u"),
            ((F.col("id") * 7) % 101).alias("v"),
            F.col("id").cast("int").alias("w"),
        )

    S.snapshot_write(
        batch(0, 2000), t, bloom_cols=["u"], stats_cols=["k"], n_files=4
    )
    S.snapshot_enable_column_mapping(spark, t)
    S.snapshot_rename_column(t, "v", "label")
    S.snapshot_widen_column(spark, t, "w", "bigint")
    for i in range(4):
        S.snapshot_append(
            batch(5000 + i, 5001 + i)
            .withColumnRenamed("v", "label")
            .withColumn("w", F.col("w").cast("bigint"))
            .coalesce(1),
            t, stats_cols=["k"],
        )
    S.snapshot_delete_range_mor(spark, t, "k", 700, 709)
    return t


def _manifest(t):
    return S._read_manifest(t, S.current_version(t))


def _rows(spark, t):
    return sorted(tuple(r) for r in S.snapshot_read(spark, t).collect())


def _k_lo(m, f):
    return m["stats"][f]["k"][0]


def _zorder_then_delete(spark, t):
    """A full z-order commit, then a DV on one of the z-ordered files: the
    table is fully clustered, so an incremental z-order commits nothing."""
    S.snapshot_zorder_compact_n(spark, t, ["k", "label"], n_files=2)
    S.snapshot_delete_range_mor(spark, t, "k", 3, 4)


def _zorder_then_append_and_delete(spark, t):
    """As _zorder_then_delete, plus one appended tail file: the incremental
    z-order carries the clustered files (with their DV) and rewrites only
    the tail."""
    S.snapshot_zorder_compact_n(spark, t, ["k", "label"], n_files=2)
    S.snapshot_append(
        spark.range(9000, 9003).select(
            F.col("id").alias("k"), F.lit(1).cast("bigint").alias("u"),
            F.lit(2).cast("bigint").alias("label"), F.col("id").alias("w"),
        ).coalesce(1),
        t, stats_cols=["k"],
    )
    S.snapshot_delete_range_mor(spark, t, "k", 3, 4)


def _last_zorder_files(t):
    v = S.current_version(t)
    while v:
        m = S._read_manifest(t, v)
        if m.get("op") == "zorder":
            return set(m["files"])
        v = m["parent"]
    raise AssertionError("no zorder commit")


def _small_bytes(t, m):
    """Smallest base-file size: every appended one-row file is below it."""
    return min((t / f).stat().st_size for f in m["files"] if _k_lo(m, f) < 5000)


# name -> (prep, run, op, touched(t, m_pre), stats columns of new files)
# ``op=None`` marks a case that must commit nothing. A stats column set of
# None means the rewrite keeps the columns the manifest already tracked.
CASES = {
    "compact": (
        None,
        lambda spark, t: S.snapshot_compact(spark, t, target_files=2),
        "compact", lambda t, m: set(m["files"]), set(),
    ),
    "compact-stats": (
        None,
        lambda spark, t: S.snapshot_compact(
            spark, t, target_files=2, stats_cols=["label"]
        ),
        "compact", lambda t, m: set(m["files"]), {ROWS, "v"},
    ),
    "compact-merge": (
        None,
        lambda spark, t: S.snapshot_compact(
            spark, t, merge=lambda df: df.dropDuplicates(), target_files=2
        ),
        "compact-merged", lambda t, m: set(m["files"]), set(),
    ),
    "compact-where": (
        None,
        lambda spark, t: S.snapshot_compact_where(spark, t, "k <= 400"),
        "compact-where",
        lambda t, m: {f for f in m["files"] if _k_lo(m, f) <= 400}, None,
    ),
    "compact-where-none": (
        None,
        lambda spark, t: S.snapshot_compact_where(spark, t, "k > 100000"),
        "compact-where", lambda t, m: set(), None,
    ),
    "compact-small": (
        None,
        lambda spark, t: S.snapshot_compact_small(
            spark, t, small_bytes=_small_bytes(t, _manifest(t)),
            min_small_files=4,
        ),
        "autocompact",
        lambda t, m: {f for f in m["files"] if _k_lo(m, f) >= 5000}, None,
    ),
    "compact-small-too-few": (
        None,
        lambda spark, t: S.snapshot_compact_small(
            spark, t, small_bytes=_small_bytes(t, _manifest(t)),
            min_small_files=5,
        ),
        None, None, None,
    ),
    "purge-dv": (
        None,
        lambda spark, t: S.snapshot_purge_dv(spark, t),
        "purge",
        lambda t, m: {f for f in m["files"] if S._dv_key(f) in m["dv"]},
        None,
    ),
    "zorder": (
        None,
        lambda spark, t: S.snapshot_zorder_compact_n(
            spark, t, ["k", "label"], n_files=2
        ),
        "zorder", lambda t, m: set(m["files"]), {ROWS, "k", "v"},
    ),
    "zorder-incremental": (
        _zorder_then_append_and_delete,
        lambda spark, t: S.snapshot_zorder_compact_n(
            spark, t, ["k", "label"], n_files=2, incremental=True
        ),
        "zorder",
        lambda t, m: set(m["files"]) - _last_zorder_files(t),
        {ROWS, "k", "v"},
    ),
    "zorder-incremental-clustered": (
        _zorder_then_delete,
        lambda spark, t: S.snapshot_zorder_compact_n(
            spark, t, ["k", "label"], n_files=2, incremental=True
        ),
        None, None, None,
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_rewrite_commits_pinned_manifest(spark, seeded, tmp_path, case):
    prep, run, op, touched_of, new_stats_cols = CASES[case]
    t = tmp_path / "t"
    shutil.copytree(seeded, t)
    if prep is not None:
        prep(spark, t)
    v_pre = S.current_version(t)
    pre = _manifest(t)
    assert pre["types"], "precondition: a widened type is recorded"
    assert pre["dv"], "precondition: a deletion vector exists"
    rows_pre = _rows(spark, t)
    digest = {
        f: hashlib.sha256((t / f).read_bytes()).hexdigest()
        for f in pre["files"]
    }

    v = run(spark, t)

    if op is None:
        assert v == v_pre == S.current_version(t)
        return
    assert v == v_pre + 1 == S.current_version(t)
    post = _manifest(t)
    assert post["op"] == op
    touched = touched_of(t, pre)
    carried = set(pre["files"]) - touched
    assert set(post["files"]) & set(pre["files"]) == carried
    new = set(post["files"]) - carried
    assert bool(new) == bool(touched)
    for f in carried:
        assert hashlib.sha256((t / f).read_bytes()).hexdigest() == digest[f]
    assert post.get("types") == pre["types"]
    assert post.get("schema") == pre["schema"]

    pre_stats, post_stats = pre.get("stats") or {}, post.get("stats") or {}
    if new_stats_cols is None:
        new_stats_cols = {c for s in pre_stats.values() for c in s}
    assert set(post_stats) <= set(post["files"])
    for f in carried:
        assert post_stats.get(f) == pre_stats.get(f)
    for f in new:
        assert set(post_stats.get(f, {})) == new_stats_cols

    pre_blooms, post_blooms = pre.get("blooms") or {}, post["blooms"]
    for f in carried:
        assert post_blooms.get(f) == pre_blooms.get(f)
    for f in new:
        assert set(post_blooms[f]) == {"u"}

    pre_dv, post_dv = pre["dv"], post.get("dv") or {}
    assert post_dv == {
        S._dv_key(f): pre_dv[S._dv_key(f)]
        for f in carried if S._dv_key(f) in pre_dv
    }

    assert _rows(spark, t) == rows_pre
