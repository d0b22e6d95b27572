"""The files each stats-pruning entry point keeps, pinned.

One seeded table carries every piece of metadata a file prune reads:

- per-file min/max stats on ``k``, range-split into four base files
  ``b0``..``b3`` (in ``k`` order),
- a Bloom filter on ``u`` (``u = 3k``, so a ``u`` that is not a multiple
  of three is absent from every file),
- a column-mapped rename: logical ``label`` (``k // 2``, with stats) is
  stored as physical ``v``,
- a deletion vector on ``b1`` (``k`` 700..709 deleted),
- one appended file ``ns`` (``k`` 5000..5003) written without stats (the
  append still builds its ``u`` Bloom filter).

``PRE`` is the version before ``ns`` was appended, so reads at it can
select no file at all.

Each case runs one prune and checks the files it keeps, by role, in
manifest order. Each read case also checks that the read returns exactly
the rows the unpruned snapshot returns under the same filter.
"""
import datetime
import uuid

import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from energy_datalake_solution_spark.sources import snapshots as S

ALL = ["b0", "b1", "b2", "b3", "ns"]


@pytest.fixture(scope="module")
def seeded(spark, tmp_path_factory):
    t = tmp_path_factory.mktemp("prune") / "seed"

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") * 3).alias("u"),
            (F.col("id") / 2).cast("long").alias("v"),
        )

    S.snapshot_write(
        batch(0, 2000), t, bloom_cols=["u"], stats_cols=["k", "v"], n_files=4
    )
    S.snapshot_enable_column_mapping(spark, t)
    S.snapshot_rename_column(t, "v", "label")
    S.snapshot_delete_range_mor(spark, t, "k", 700, 709)
    pre = S.current_version(t)
    S.snapshot_append(
        batch(5000, 5004).withColumnRenamed("v", "label").coalesce(1), t
    )
    m = S._read_manifest(t, S.current_version(t))
    base = sorted(
        (f for f in m["files"] if "k" in m.get("stats", {}).get(f, {})),
        key=lambda f: m["stats"][f]["k"][0],
    )
    roles = {f: f"b{i}" for i, f in enumerate(base)}
    roles.update({f: "ns" for f in m["files"] if f not in roles})
    assert sorted(roles.values()) == ALL
    bounds = {roles[f]: m["stats"][f]["k"][:2] for f in base}
    return t, pre, roles, bounds


def _roles(t, roles, files):
    """Role names of ``files``, checking they keep manifest order."""
    order = S._read_manifest(t, S.current_version(t))["files"]
    idx = [order.index(f) for f in files]
    assert idx == sorted(idx), "prune must keep manifest order"
    return [roles[f] for f in files]


def _in_manifest_order(t, roles, names):
    order = S._read_manifest(t, S.current_version(t))["files"]
    return [roles[f] for f in order if roles[f] in names]


def test_seed_layout(seeded):
    """The pins below assume four contiguous base files that split ``k``
    near 500, 1000 and 1500 (the range split samples its bounds)."""
    _, _, _, bounds = seeded
    b = [bounds[f"b{i}"] for i in range(4)]
    assert b[0][0] == 0 and b[3][1] == 1999
    for i in range(3):
        assert b[i][1] + 1 == b[i + 1][0]
        assert abs(b[i + 1][0] - 500 * (i + 1)) < 50


# name -> (prune(t, pre, bounds) -> files, roles kept)
FILE_CASES = {
    # ranges
    "range-inside": (
        lambda t, pre, b: S.snapshot_files(t, [{"k": (100, 200)}]),
        ["b0", "ns"],
    ),
    "range-outside": (
        lambda t, pre, b: S.snapshot_files(t, [{"k": (10_000, 20_000)}]),
        ["ns"],
    ),
    "range-boundary-equal": (
        lambda t, pre, b: S.snapshot_files(
            t, [{"k": (b["b0"][1], b["b1"][0])}]
        ),
        ["b0", "b1", "ns"],
    ),
    "range-point-on-min": (
        lambda t, pre, b: S.snapshot_files(
            t, [{"k": (b["b2"][0], b["b2"][0])}]
        ),
        ["b2", "ns"],
    ),
    "range-mapped": (
        lambda t, pre, b: S.snapshot_files(t, [{"label": (0, 100)}]),
        ["b0", "ns"],
    ),
    "range-old-version": (
        lambda t, pre, b: S.snapshot_files(t, [{"k": (10_000, 20_000)}], pre),
        [],
    ),
    # IN-lists: one point disjunct per value
    "values-in-list": (
        lambda t, pre, b: S.snapshot_files(
            t, [{"k": (5, 5)}, {"k": (1200, 1200)}]
        ),
        ["b0", "b2", "ns"],
    ),
    "values-outside": (
        lambda t, pre, b: S.snapshot_files(t, [{"k": (99_999, 99_999)}]),
        ["ns"],
    ),
    # an empty IN-list matches no row, so it admits no file (the IN-list
    # pruner this replaced kept the stats-less files)
    "values-empty": (
        lambda t, pre, b: S.snapshot_files(t, []),
        [],
    ),
    # points: stats and blooms
    "point-inside": (
        lambda t, pre, b: S.snapshot_files(t, [{"k": (10, 10)}]),
        ["b0", "ns"],
    ),
    "point-no-stats-file": (
        lambda t, pre, b: S.snapshot_files(t, [{"k": (5001, 5001)}]),
        ["ns"],
    ),
    "point-bloom-admits": (
        lambda t, pre, b: S.snapshot_files(t, [{"u": (30, 30)}]),
        ["b0"],
    ),
    "point-bloom-rejects": (
        lambda t, pre, b: S.snapshot_files(t, [{"u": (31, 31)}]),
        [],
    ),
    # SQL predicate strings
    "pred-inside": (
        lambda t, pre, b: S.snapshot_files(t, "k BETWEEN 100 AND 200"),
        ["b0", "ns"],
    ),
    "pred-outside": (
        lambda t, pre, b: S.snapshot_files(t, "k > 10000"),
        ["ns"],
    ),
    "pred-boundary-equal": (
        lambda t, pre, b: S.snapshot_files(
            t, f"k >= {b['b1'][1]} AND k <= {b['b2'][0]}"
        ),
        ["b1", "b2", "ns"],
    ),
    "pred-open-lower": (
        lambda t, pre, b: S.snapshot_files(t, "k >= 1600"),
        ["b3", "ns"],
    ),
    "pred-open-upper": (
        lambda t, pre, b: S.snapshot_files(t, "k < 100"),
        ["b0", "ns"],
    ),
    "pred-or-of-ranges": (
        lambda t, pre, b: S.snapshot_files(
            t, "k BETWEEN 0 AND 10 OR (k BETWEEN 1900 AND 1950)"
        ),
        ["b0", "b3", "ns"],
    ),
    "pred-or-opaque-arm": (
        lambda t, pre, b: S.snapshot_files(t, "k = 5 OR abs(k) = 7"),
        ALL,
    ),
    "pred-equality": (
        lambda t, pre, b: S.snapshot_files(t, "k = 1200"),
        ["b2", "ns"],
    ),
    "pred-incomparable-literal": (
        lambda t, pre, b: S.snapshot_files(t, "k = 'abc'"),
        ALL,
    ),
    "pred-mapped-logical": (
        lambda t, pre, b: S.snapshot_files(t, "label <= 100"),
        ["b0", "ns"],
    ),
    "pred-unknown-column": (
        lambda t, pre, b: S.snapshot_files(t, "v <= 100"),
        ALL,
    ),
    "pred-unparseable": (
        lambda t, pre, b: S.snapshot_files(t, "abs(k) = 5"),
        ALL,
    ),
    "pred-old-version": (
        lambda t, pre, b: S.snapshot_files(t, "k > 10000", pre),
        [],
    ),
    # regions the single-purpose pruners could not say
    "region-open-bound": (
        lambda t, pre, b: S.snapshot_files(t, [{"k": (1600, None)}]),
        ["b3", "ns"],
    ),
    "region-unconstrained": (
        lambda t, pre, b: S.snapshot_files(t, [{}]),
        ALL,
    ),
    "pred-bloom-equality": (
        lambda t, pre, b: S.snapshot_files(t, "u = 31"),
        [],
    ),
    "pred-bloom-in-or": (
        lambda t, pre, b: S.snapshot_files(t, "u = 30 OR u = 31"),
        ["b0"],
    ),
}


@pytest.mark.parametrize("case", sorted(FILE_CASES))
def test_prune_keeps_pinned_files(seeded, case):
    t, pre, roles, bounds = seeded
    prune, want = FILE_CASES[case]
    assert _roles(t, roles, prune(t, pre, bounds)) == _in_manifest_order(
        t, roles, want
    )


# name -> (where, version, row filter, roles read, rows). An empty role
# list is an empty selection: no file matches.
READ_CASES = {
    "read-range": (
        [{"k": (100, 200)}], None,
        "k BETWEEN 100 AND 200", ["b0", "ns"], 101,
    ),
    "read-range-dv": (
        [{"k": (690, 720)}], None,
        "k BETWEEN 690 AND 720", ["b1", "ns"], 21,
    ),
    "read-range-mapped": (
        [{"label": (0, 100)}], None,
        "label BETWEEN 0 AND 100", ["b0", "ns"], 202,
    ),
    "read-range-no-stats-file": (
        [{"k": (5001, 5002)}], None,
        "k BETWEEN 5001 AND 5002", ["ns"], 2,
    ),
    "read-range-empty": (
        [{"k": (10_000, 20_000)}], "pre",
        "k BETWEEN 10000 AND 20000", [], 0,
    ),
    "read-rect": (
        [{"k": (0, 900), "label": (400, 440)}], None,
        "k BETWEEN 0 AND 900 AND label BETWEEN 400 AND 440",
        ["b1", "ns"], 82,
    ),
    "read-rect-empty": (
        [{"k": (0, 999), "label": (900, 950)}], "pre",
        "k BETWEEN 0 AND 999 AND label BETWEEN 900 AND 950", [], 0,
    ),
    "read-box": (
        [{"k": (0, 1200), "label": (400, 600), "u": (0, 3000)}], None,
        "k BETWEEN 0 AND 1200 AND label BETWEEN 400 AND 600 "
        "AND u BETWEEN 0 AND 3000", ["b1", "b2", "ns"], 201,
    ),
    "read-box-empty": (
        [{"k": (0, 400), "label": (300, 400)}], "pre",
        "k BETWEEN 0 AND 400 AND label BETWEEN 300 AND 400", [], 0,
    ),
    "read-or-of-ranges": (
        [{"k": (0, 10)}, {"label": (950, None)}], None,
        "k BETWEEN 0 AND 10 OR label >= 950", ["b0", "b3", "ns"], 115,
    ),
    "read-predicate-string": (
        "k BETWEEN 0 AND 10 OR label >= 950", None,
        "k BETWEEN 0 AND 10 OR label >= 950", ["b0", "b3", "ns"], 115,
    ),
    "read-predicate-string-empty": (
        "k > 10000", "pre", "k > 10000", [], 0,
    ),
}


@pytest.mark.parametrize("case", sorted(READ_CASES))
def test_read_prunes_pinned_files_and_keeps_rows(spark, seeded, case):
    t, pre, roles, _ = seeded
    where, at, cond, want_files, n_rows = READ_CASES[case]
    version = pre if at == "pre" else None
    df = S.snapshot_read(spark, t, version, where=where)
    full = S.snapshot_read(spark, t, version)
    assert df.columns == full.columns == ["k", "u", "label"]
    rows = sorted(tuple(r) for r in df.collect())
    assert rows == sorted(tuple(r) for r in full.where(cond).collect())
    assert len(rows) == n_rows
    if want_files:
        names = {f.rsplit("/", 1)[-1]: f for f in roles}
        read_files = [names[u.rsplit("/", 1)[-1]] for u in df.inputFiles()]
        assert sorted(roles[f] for f in read_files) == want_files


def test_prune_on_logical_name_of_renamed_column(seeded):
    """Stats sit under the physical name ``v``; a region names the
    logical ``label``, and the prune must reach those stats. A physical
    name is no column of the table."""
    t, _, roles, _ = seeded
    kept = S.snapshot_files(t, [{"label": (0, 100)}])
    assert 0 < len(kept) < len(roles)
    with pytest.raises(KeyError):
        S.snapshot_files(t, [{"v": (0, 100)}])


def test_where_must_be_a_predicate_string_or_a_region(seeded):
    t = seeded[0]
    with pytest.raises(TypeError):
        S.snapshot_files(t, {"k": (0, 100)})


@pytest.fixture
def micros_timestamps(spark):
    """Parquet timestamps written as TIMESTAMP_MICROS, which carry footer
    stats (Spark's default INT96 carries none); the conf is restored."""
    key = "spark.sql.parquet.outputTimestampType"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    yield
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


# --- generated: pruning never loses a row ------------------------------

_DAY0 = datetime.date(2024, 1, 1)
_INTS = st.integers(-5, 25)
_STRS = st.sampled_from(["a", "b", "bb", "c", "x y", "zz"])
_DATES = st.integers(0, 40).map(lambda n: _DAY0 + datetime.timedelta(days=n))
_TIMES = st.integers(0, 47).map(
    lambda n: datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=n)
)
_VALUES = {"i": _INTS, "s": _STRS, "d": _DATES, "t": _TIMES}
_ROW = st.tuples(
    st.none() | _INTS, st.none() | _STRS, st.none() | _DATES,
    st.none() | _TIMES,
)
# one file: its rows, and whether the commit records its stats
_FILE = st.tuples(st.lists(_ROW, min_size=1, max_size=6), st.booleans())


@st.composite
def _disjunct(draw):
    out = {}
    for c in draw(st.sets(st.sampled_from(sorted(_VALUES)), max_size=3)):
        v = _VALUES[c]
        shape = draw(st.sampled_from(["point", "range", "lo", "hi"]))
        lo, hi = draw(v), draw(v)
        out[c] = {
            "point": (lo, lo), "range": (lo, hi), "lo": (lo, None),
            "hi": (None, hi),
        }[shape]
    return out


def _sql_literal(v):
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, str):
        return f"'{v}'"
    return str(v)


def _sql(region):
    """The SQL predicate string of a region: ORed arms of ANDed
    comparisons; an unconstrained arm is an opaque conjunct."""
    arms = []
    for d in region:
        terms = []
        for c, (lo, hi) in d.items():
            if lo is not None and lo == hi:
                terms.append(f"{c} = {_sql_literal(lo)}")
            elif lo is not None and hi is not None:
                terms.append(
                    f"{c} BETWEEN {_sql_literal(lo)} AND {_sql_literal(hi)}"
                )
            elif lo is not None:
                terms.append(f"{c} >= {_sql_literal(lo)}")
            elif hi is not None:
                terms.append(f"{c} <= {_sql_literal(hi)}")
        arms.append(" AND ".join(terms) or "abs(i) >= 0")
    if len(arms) == 1:
        return arms[0]
    return " OR ".join(f"({a})" for a in arms)


def _matches(row: dict, region) -> bool:
    for d in region:
        if all(
            row[c] is not None
            and (lo is None or row[c] >= lo)
            and (hi is None or row[c] <= hi)
            for c, (lo, hi) in d.items()
        ):
            return True
    return False


@settings(
    max_examples=5, deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture, HealthCheck.too_slow,
    ],
)
@given(
    files=st.lists(_FILE, min_size=1, max_size=3),
    blooms=st.booleans(),
    regions=st.lists(
        st.lists(_disjunct(), min_size=1, max_size=3),
        min_size=16, max_size=16,
    ),
)
def test_prune_never_loses_a_row(
    spark, tmp_path, micros_timestamps, files, blooms, regions
):
    """On generated tables of int, string, date and timestamp columns
    (files with and without stats, with and without Bloom filters), every
    file that holds a row of a random region is kept, and the SQL
    spelling of the region keeps exactly the files the region spelling
    keeps."""
    t = tmp_path / uuid.uuid4().hex
    cols = ["i", "s", "d", "t"]
    for n, (rows, with_stats) in enumerate(files):
        df = spark.createDataFrame(
            rows, "i int, s string, d date, t timestamp"
        ).coalesce(1)
        stats_cols = cols if with_stats else None
        if n == 0:
            S.snapshot_write(
                df, t, stats_cols=stats_cols,
                bloom_cols=cols if blooms else None,
            )
        else:
            S.snapshot_append(df, t, stats_cols=stats_cols)
    m = S._read_manifest(t, S.current_version(t))
    # timestamps read back UTC-aware; the session and the probes are UTC
    content = {
        f: [
            {c: v.replace(tzinfo=None) if isinstance(v, datetime.datetime) else v
             for c, v in r.items()}
            for r in pq.read_table(t / f).to_pylist()
        ]
        for f in m["files"]
    }
    for region in regions:
        kept = S.snapshot_files(t, region)
        must = [
            f for f in m["files"]
            if any(_matches(r, region) for r in content[f])
        ]
        assert set(must) <= set(kept), (region, must, kept)
        assert S.snapshot_files(t, _sql(region)) == kept, _sql(region)


# --- timestamp bounds -------------------------------------------------


def _ts_table(spark, t):
    rows = [(k, datetime.datetime(2024, 1, 1, h)) for k, h in ((1, 3), (2, 4), (3, 6))]
    S.snapshot_write(
        spark.createDataFrame(rows, "k int, ts timestamp").coalesce(1), t,
        stats_cols=["ts"],
    )
    m = S._read_manifest(t, S.current_version(t))
    # footer stats spell the bound as an offset ISO string
    assert all("T" in s["ts"][0] for s in m["stats"].values())
    return m


def test_timestamp_bounds_keep_matching_rows(spark, tmp_path, micros_timestamps):
    """Footer stats of a timestamp are offset ISO strings, probes are not:
    string order between the two is not time order, so a timestamp bound
    must keep every file. The read, the delete and a ``datetime`` region
    all keep the rows at 03:00 and 04:00."""
    t = tmp_path / "ts"
    m = _ts_table(spark, t)
    where = "ts <= TIMESTAMP '2024-01-01 05:00:00'"
    assert S.snapshot_files(t, where) == m["files"]
    at3 = datetime.datetime(2024, 1, 1, 3)
    assert S.snapshot_files(t, [{"ts": (at3, at3)}]) == m["files"]
    assert S.snapshot_files(t, "ts = '2024-01-01 03:00:00'") == m["files"]
    got = S.snapshot_read(spark, t, where=where).collect()
    assert sorted(r.k for r in got) == [1, 2]
    S.snapshot_delete_where(spark, t, where)
    assert [r.k for r in S.snapshot_read(spark, t).collect()] == [3]


def test_replace_where_never_drops_a_file_on_a_timestamp_bound(
    spark, tmp_path, micros_timestamps
):
    """REPLACE WHERE drops a file unread only when its stats prove every
    row matches; timestamp stats prove nothing, so the 03:00 row, which
    does not match, survives."""
    t = tmp_path / "ts"
    _ts_table(spark, t)
    S.snapshot_replace_where(
        spark, t, "ts >= '2024-01-01 03:30:00'",
        spark.createDataFrame([], "k int, ts timestamp"),
    )
    assert [r.k for r in S.snapshot_read(spark, t).collect()] == [1]
