"""The manifest every row-level mutation (DML) commits, pinned.

One seeded table carries every piece of metadata a DML commit must keep
or rebuild:

- per-file min/max stats on ``k`` (range-split into four base files),
- a Bloom filter on ``u``,
- a column-mapped rename: logical ``label`` is stored as physical ``v``,
- a widened column ``w`` (int -> bigint, recorded in the ``types`` map),
- four small appended files (``k`` 5000..5003, with stats),
- a deletion vector on the second base file (``k`` 700..709 deleted).

Each case copies the table, runs one DML entry point in its
merge-on-read (MOR) or copy-on-write (CoW) form, and checks the committed
manifest: its ``op``, which files carry over byte-identical, the stats,
bloom and DV keys of every file, which vectors grow, the ``types`` and
``schema`` metadata, and the rows the table reads afterwards against a
Python model of the statement. A case named ``*-cow`` runs with a zero
``DV_MAX_DELETED_ROWS``, the one merge-on-read cap, which forces the CoW
form of merge, delete-where and update-where.
"""
import hashlib
import shutil

import pytest
from pyspark.sql import functions as F

from energy_datalake_solution_spark.sources import snapshots as S

ROWS = S._ROWS_KEY
COLS = ("k", "u", "label", "w")


@pytest.fixture(scope="module")
def seeded(spark, tmp_path_factory):
    t = tmp_path_factory.mktemp("dml") / "seed"

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
    return sorted(
        tuple(r) for r in S.snapshot_read(spark, t).select(*COLS).collect()
    )


def _src(spark, rows):
    return spark.createDataFrame(
        rows, "k bigint, u bigint, label bigint, w bigint"
    ).coalesce(1)


def _holding(m, lo, hi=None):
    """Files whose ``k`` stats admit [lo, hi]."""
    hi = lo if hi is None else hi
    return {
        f for f in m["files"]
        if m["stats"][f]["k"][0] <= hi and m["stats"][f]["k"][1] >= lo
    }


def _positions(dv, f):
    return set(S._unpack_positions(dv[S._dv_key(f)]))


# -- the statements and their Python models --------------------------------

SRC = [(100, 42, 0, 0), (705, 43, 1, 1)]  # 100 is live; 705 is DV-deleted


def _replace(rows, batch, key=0):
    gone = {b[key] for b in batch}
    return [r for r in rows if r[key] not in gone] + list(batch)


def _set(rows, where, **assign):
    idx = {c: i for i, c in enumerate(COLS)}
    out = []
    for r in rows:
        if where(r):
            r = list(r)
            for c, fn in assign.items():
                r[idx[c]] = fn(r)
            r = tuple(r)
        out.append(r)
    return out


def _merge_model(rows, update=False, delete=False, by_source=None):
    """MERGE ON k of SRC: matched rows take SRC's ``u`` (``update``) or go
    (``delete``); unmatched SRC rows insert; ``by_source`` deletes target
    rows SRC lacks that satisfy it."""
    src = {s[0]: s for s in SRC}
    live = {r[0] for r in rows}
    out = []
    for r in rows:
        if r[0] in src:
            if delete:
                continue
            if update:
                r = (r[0], src[r[0]][1], r[2], r[3])
        elif by_source is not None and by_source(r):
            continue
        out.append(r)
    return out + [s for k, s in src.items() if k not in live]


def _where_hit(r):
    return r[0] < 300 and r[2] == 3


WHERE = "k < 300 AND label = 3"


def _merge(**kw):
    return lambda spark, t: S.snapshot_merge(
        spark, _src(spark, SRC), t, ["k"], **kw
    )


def _all(m):
    return set(m["files"])


def _none(m):
    return set()


# name -> (run, op, touched(m_pre), grown(m_pre), new stats cols,
#          new bloom cols, rows model, new files expected)
# ``touched``: pre files the commit replaces (CoW); every other file
# carries byte-identical. ``grown``: carried files whose deletion vector
# grows (MOR); every other carried vector is unchanged.
NEW_STATS = {ROWS, "k"}
CASES = {
    "upsert": (
        lambda spark, t: S.snapshot_upsert(
            spark, _src(spark, SRC), t, ["k"]
        ),
        "upsert", lambda m: _holding(m, 100, 705), _none,
        NEW_STATS, {"u"}, lambda rows: _replace(rows, SRC), True,
    ),
    "upsert-no-key-stats": (
        lambda spark, t: S.snapshot_upsert(
            spark, _src(spark, [(9000, 5, 6, 7)]), t, ["u"]
        ),
        "upsert", _all, _none,
        NEW_STATS, {"u"}, lambda rows: _replace(rows, [(9000, 5, 6, 7)], 1),
        True,
    ),
    "merge-update-mor": (
        _merge(matched_update={"u": "s.u"}),
        "merge", _none, lambda m: _holding(m, 100),
        NEW_STATS, {"u"}, lambda rows: _merge_model(rows, update=True), True,
    ),
    "merge-update-cow": (
        _merge(matched_update={"u": "s.u"}),
        "merge", lambda m: _holding(m, 100, 705), _none,
        NEW_STATS, {"u"}, lambda rows: _merge_model(rows, update=True), True,
    ),
    "merge-delete-mor": (
        _merge(matched_delete=True),
        "merge", _none, lambda m: _holding(m, 100),
        NEW_STATS, {"u"}, lambda rows: _merge_model(rows, delete=True), True,
    ),
    "merge-delete-cow": (
        _merge(matched_delete=True),
        "merge", lambda m: _holding(m, 100, 705), _none,
        NEW_STATS, {"u"}, lambda rows: _merge_model(rows, delete=True), True,
    ),
    "merge-by-source-mor": (
        _merge(
            matched_update={"u": "s.u"}, not_matched_by_source_delete=True,
            not_matched_by_source_condition="t.k < 50",
        ),
        "merge", _none, lambda m: _holding(m, 0, 100),
        NEW_STATS, {"u"},
        lambda rows: _merge_model(
            rows, update=True, by_source=lambda r: r[0] < 50
        ),
        True,
    ),
    "merge-by-source-cow": (
        _merge(
            matched_update={"u": "s.u"}, not_matched_by_source_delete=True,
            not_matched_by_source_condition="t.k < 50",
        ),
        "merge", _all, _none,
        NEW_STATS, {"u"},
        lambda rows: _merge_model(
            rows, update=True, by_source=lambda r: r[0] < 50
        ),
        True,
    ),
    "delete-range": (
        lambda spark, t: S.snapshot_delete_range(spark, t, "k", 100, 109),
        "delete", lambda m: _holding(m, 100, 109), _none,
        NEW_STATS, {"u"},
        lambda rows: [r for r in rows if not 100 <= r[0] <= 109], True,
    ),
    "delete-range-mor": (
        lambda spark, t: S.snapshot_delete_range_mor(spark, t, "k", 100, 109),
        "delete-mor", _none, lambda m: _holding(m, 100, 109),
        None, None,
        lambda rows: [r for r in rows if not 100 <= r[0] <= 109], False,
    ),
    "delete-range-mor-cow": (
        lambda spark, t: S.snapshot_delete_range_mor(spark, t, "k", 100, 109),
        "delete", lambda m: _holding(m, 100, 109), _none,
        NEW_STATS, {"u"},
        lambda rows: [r for r in rows if not 100 <= r[0] <= 109], True,
    ),
    "delete-where-mor": (
        lambda spark, t: S.snapshot_delete_where(spark, t, WHERE),
        "delete-mor", _none, lambda m: _holding(m, 0, 299),
        None, None, lambda rows: [r for r in rows if not _where_hit(r)],
        False,
    ),
    "delete-where-cow": (
        lambda spark, t: S.snapshot_delete_where(spark, t, WHERE),
        "delete", lambda m: _holding(m, 0, 299), _none,
        NEW_STATS, {"u"}, lambda rows: [r for r in rows if not _where_hit(r)],
        True,
    ),
    "update-where-mor": (
        lambda spark, t: S.snapshot_update_where(
            spark, t, WHERE, {"w": "w + 1000000"}
        ),
        "update-mor", _none, lambda m: _holding(m, 0, 299),
        NEW_STATS, {"u"},
        lambda rows: _set(rows, _where_hit, w=lambda r: r[3] + 1000000),
        True,
    ),
    "update-where-cow": (
        lambda spark, t: S.snapshot_update_where(
            spark, t, WHERE, {"w": "w + 1000000"}
        ),
        "update", lambda m: _holding(m, 0, 299), _none,
        NEW_STATS, {"u"},
        lambda rows: _set(rows, _where_hit, w=lambda r: r[3] + 1000000),
        True,
    ),
    "update-range-mor": (
        lambda spark, t: S.snapshot_update_range_mor(
            spark, t, "k", 100, 109, {"u": "u + 1"}
        ),
        "update-mor", _none, lambda m: _holding(m, 100, 109),
        NEW_STATS, {"u"},
        lambda rows: _set(rows, lambda r: 100 <= r[0] <= 109,
                          u=lambda r: r[1] + 1),
        True,
    ),
    "update-range-mor-cow": (
        lambda spark, t: S.snapshot_update_range_mor(
            spark, t, "k", 100, 109, {"u": "u + 1"}
        ),
        "update", lambda m: _holding(m, 100, 109), _none,
        NEW_STATS, {"u"},
        lambda rows: _set(rows, lambda r: 100 <= r[0] <= 109,
                          u=lambda r: r[1] + 1),
        True,
    ),
    "replace-where": (
        lambda spark, t: S.snapshot_replace_where(
            spark, t, "k >= 100 AND k <= 199",
            _src(spark, [(100, 1, 2, 3), (150, 4, 5, 6)]),
        ),
        "replace-where", lambda m: _holding(m, 100, 199), _none,
        NEW_STATS, {"u"},
        lambda rows: [r for r in rows if not 100 <= r[0] <= 199]
        + [(100, 1, 2, 3), (150, 4, 5, 6)],
        True,
    ),
    "replace-where-drops-covered-files": (
        lambda spark, t: S.snapshot_replace_where(
            spark, t, "k >= 5000", _src(spark, [(5000, 1, 2, 3)]),
        ),
        "replace-where", lambda m: _holding(m, 5000, 10**9), _none,
        NEW_STATS, {"u"},
        lambda rows: [r for r in rows if r[0] < 5000] + [(5000, 1, 2, 3)],
        True,
    ),
    "overwrite": (
        lambda spark, t: S.snapshot_replace_where(
            spark, t, None, _src(spark, [(1, 2, 3, 4)]),
        ),
        "overwrite", _all, _none,
        NEW_STATS, {"u"}, lambda rows: [(1, 2, 3, 4)], True,
    ),
    "upsert-partitioned": (
        lambda spark, t: S.snapshot_upsert_partitioned(
            spark, _src(spark, [(5000, 53, 8, 9)]), t, ["k"], "u"
        ),
        "upsert-part", lambda m: _holding(m, 5000), _none,
        {ROWS, "k", "u"}, {"u"},
        lambda rows: _replace(rows, [(5000, 53, 8, 9)]), True,
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_dml_commits_pinned_manifest(spark, seeded, tmp_path, monkeypatch,
                                    case):
    if case.endswith("-cow"):
        monkeypatch.setattr(S, "DV_MAX_DELETED_ROWS", 0)
    run, op, touched_of, grown_of, new_stats, new_blooms, model, has_new = (
        CASES[case]
    )
    t = tmp_path / "t"
    shutil.copytree(seeded, t)
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

    assert v == v_pre + 1 == S.current_version(t)
    post = _manifest(t)
    assert post["op"] == op
    touched = touched_of(pre)
    carried = set(pre["files"]) - touched
    assert set(post["files"]) & set(pre["files"]) == carried
    new = set(post["files"]) - carried
    assert bool(new) == has_new
    for f in carried:
        assert hashlib.sha256((t / f).read_bytes()).hexdigest() == digest[f]
    if op == "overwrite":
        assert post.get("types") is None
    else:
        assert post.get("types") == pre["types"]
    assert post.get("schema") == pre["schema"]

    pre_stats, post_stats = pre["stats"], post.get("stats") or {}
    assert set(post_stats) <= set(post["files"])
    for f in carried:
        assert post_stats.get(f) == pre_stats.get(f)
    for f in new:
        assert set(post_stats.get(f, {})) == new_stats

    pre_blooms, post_blooms = pre["blooms"], post.get("blooms") or {}
    assert set(post_blooms) <= set(post["files"])
    for f in carried:
        assert post_blooms.get(f) == pre_blooms.get(f)
    for f in new:
        assert set(post_blooms.get(f, {})) == new_blooms

    pre_dv, post_dv = pre["dv"], post.get("dv") or {}
    grown = grown_of(pre)
    assert grown <= carried
    assert set(post_dv) == {
        S._dv_key(f) for f in carried
        if S._dv_key(f) in pre_dv or f in grown
    }
    for f in carried:
        if f in grown:
            before = _positions(pre_dv, f) if S._dv_key(f) in pre_dv else set()
            assert before < _positions(post_dv, f)
        elif S._dv_key(f) in pre_dv:
            assert post_dv[S._dv_key(f)] == pre_dv[S._dv_key(f)]

    assert _rows(spark, t) == sorted(model(rows_pre))


# -- the merge-on-read cap: ``cap`` affected rows commit MOR, one more CoW ---

CAP = 3


def _kv_src(spark, keys):
    return spark.createDataFrame(
        [(k, k) for k in keys], "k bigint, v bigint"
    ).coalesce(1)


BOUNDARY = {
    "delete-where": lambda spark, t, n: S.snapshot_delete_where(
        spark, t, f"k < {n}"
    ),
    "update-where": lambda spark, t, n: S.snapshot_update_where(
        spark, t, f"k < {n}", {"v": "v + 100"}
    ),
    "merge-update": lambda spark, t, n: S.snapshot_merge(
        spark, _kv_src(spark, range(n)), t, ["k"],
        matched_update={"v": "s.v + 100"}, not_matched_insert=False,
    ),
    "merge-delete": lambda spark, t, n: S.snapshot_merge(
        spark, _kv_src(spark, range(n)), t, ["k"],
        matched_delete=True, not_matched_insert=False,
    ),
    "merge-by-source-update": lambda spark, t, n: S.snapshot_merge(
        spark, _kv_src(spark, range(n, 20)), t, ["k"],
        not_matched_insert=False,
        not_matched_by_source_update={"v": "t.v + 100"},
    ),
    "merge-by-source-delete": lambda spark, t, n: S.snapshot_merge(
        spark, _kv_src(spark, range(n, 20)), t, ["k"],
        not_matched_insert=False, not_matched_by_source_delete=True,
    ),
}


@pytest.mark.parametrize("affected", [CAP, CAP + 1], ids=["at-cap", "over-cap"])
@pytest.mark.parametrize("case", sorted(BOUNDARY))
def test_cap_boundary(spark, tmp_path, monkeypatch, case, affected):
    """Each statement affects ``affected`` of 20 rows (k 0..19 in two
    range-split files): at the cap it grows deletion vectors and keeps
    every file; one row over, it rewrites the files it touched."""
    monkeypatch.setattr(S, "DV_MAX_DELETED_ROWS", CAP)
    t = tmp_path / "t"
    S.snapshot_write(
        spark.range(20).selectExpr("id AS k", "id AS v"), t,
        stats_cols=["k"], n_files=2,
    )
    pre = _manifest(t)
    BOUNDARY[case](spark, t, affected)
    post = _manifest(t)
    dv = post.get("dv") or {}
    if affected <= CAP:
        assert set(pre["files"]) <= set(post["files"])
        assert sum(len(S._unpack_positions(e)) for e in dv.values()) == affected
    else:
        assert not set(pre["files"]) <= set(post["files"])
        assert not dv
    assert S.snapshot_read(spark, t).count() == (
        20 - affected if "delete" in case else 20
    )


# -- assignments keep the column's type --------------------------------------

TYPED = {
    "merge": lambda spark, t: S.snapshot_merge(
        spark,
        spark.range(3).selectExpr("id AS k", "id + 0.5 AS x").coalesce(1),
        t, ["k"], matched_update={"v": "s.x"}, not_matched_insert=False,
    ),
    "update": lambda spark, t: S.snapshot_update_where(
        spark, t, "k < 3", {"v": "v * 1.5"}
    ),
}


@pytest.mark.parametrize("form", ["mor", "cow"])
@pytest.mark.parametrize("stmt", sorted(TYPED))
def test_assignment_keeps_column_type(spark, tmp_path, monkeypatch, stmt,
                                      form):
    """A wider assignment (double, decimal) to a bigint column writes
    bigint images and bigint rewrites, so every file of the table keeps
    an int64 ``v`` and the table reads back as bigint."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if form == "cow":
        monkeypatch.setattr(S, "DV_MAX_DELETED_ROWS", 0)
    t = tmp_path / "t"
    S.snapshot_write(
        spark.range(20).selectExpr("id AS k", "id AS v"), t,
        stats_cols=["k"], n_files=2,
    )
    TYPED[stmt](spark, t)
    m = _manifest(t)
    assert bool(m.get("dv")) == (form == "mor")
    for f in m["files"]:
        assert pq.read_schema(t / f).field("v").type == pa.int64(), f
    df = S.snapshot_read(spark, t)
    assert dict(df.dtypes)["v"] == "bigint"
    got = {r.k: r.v for r in df.collect()}
    assert got == {k: (int(k * 1.5) if stmt == "update" else k) if k < 3
                   else k for k in range(20)}
