"""Every reader that walks a snapshot table's committed history, pinned on
the two shapes that make a walk go wrong:

- ``gap``: vacuum has deleted the oldest manifests, so the parent chain
  reaches a version that is no longer on disk;
- ``orphan``: a rollback left versions on disk that the committed chain
  skips (the same shape a losing commit racer leaves).

Each walker keeps its own answer and its own failure in both shapes:
the tail, TIMESTAMP AS OF, ``last_txn``, the incremental z-order
fallback, the ``readChangeFeed`` stream, the plain stream (paced and
unpaced) and ``startingTimestamp``. The second half pins the streaming
change feed to ``snapshot_change_feed`` over one window of append, MOR
delete, MOR update, compaction and a column-mapped rename."""

from __future__ import annotations

import json
from collections import Counter
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from energy_datalake_solution_spark.sources import snapshots as S
from energy_datalake_solution_spark.sources.snapshot_datasource import (
    SnapshotDataSource,
)


def _df(spark, lo, hi, val):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(val).alias("v")
    )


def _ts(t, v):
    return json.loads(S._manifest_path(t, v).read_text())["ts"]


def _strip_txn_maps(t):
    """Rewrite every manifest without its carried ``txns`` map, the shape
    of a table written before the map existed: ``last_txn`` then has to
    walk the chain for a stamp."""
    for mf in (S._table(t) / S._MANIFEST_DIR).glob("v*.json"):
        raw = json.loads(mf.read_text())
        raw.pop("txns", None)
        tmp = mf.with_suffix(".tmp")
        tmp.write_text(json.dumps(raw))
        tmp.replace(mf)


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """Both shapes, built once; no check below mutates them."""
    spark.dataSource.register(SnapshotDataSource)
    root = tmp_path_factory.mktemp("walks")

    # gap: v1 write, v2 zorder, v3 stamped (y, 3), v4 stamped (x, 7),
    # v5 append; the consumer "pre" consumes v1..v4, then vacuum keeps
    # only v4 and v5
    g = root / "gap"
    S.snapshot_write(_df(spark, 0, 4, "a"), g)
    S.snapshot_zorder_compact_n(spark, g, ["k"], n_files=1)
    S.snapshot_append_once(_df(spark, 4, 6, "c"), g, txn=3, txn_app="y")
    S.snapshot_append_once(_df(spark, 6, 8, "d"), g, txn=7, txn_app="x")
    S.snapshot_append(_df(spark, 8, 10, "e"), g)
    gap_ts = {v: _ts(g, v) for v in range(1, 6)}
    gap_progress = root / "gap_progress"
    S.snapshot_tail_changes(spark, g, gap_progress, lambda df, v: None,
                            app_id="pre", max_versions=4)
    S.snapshot_vacuum(g, keep_versions=2)
    _strip_txn_maps(g)
    assert {int(f.stem[1:]) for f in (g / "_manifests").glob("v*.json")} \
        == {4, 5}

    # orphan: v1 write, v2 zorder, v3 stamped (x, 9); rollback to v1,
    # then v4 appends on v1 (v2 and v3 stay on disk, off the chain)
    o = root / "orphan"
    S.snapshot_write(_df(spark, 0, 4, "a"), o)
    S.snapshot_zorder_compact_n(spark, o, ["k"], n_files=1)
    S.snapshot_append_once(_df(spark, 50, 52, "orphan"), o, txn=9,
                           txn_app="x")
    S.snapshot_rollback(o, 1)
    S.snapshot_append(_df(spark, 4, 6, "b"), o)
    assert S.current_version(o) == 4
    orphan_ts = {v: _ts(o, v) for v in range(1, 5)}

    return {
        "gap": SimpleNamespace(t=g, ts=gap_ts, progress=gap_progress,
                               root=root),
        "orphan": SimpleNamespace(t=o, ts=orphan_ts, root=root),
    }


def _stream(t, **opts):
    return SnapshotDataSource(
        options={"path": str(t), **{k: str(v) for k, v in opts.items()}}
    ).streamReader(None)


def _rows(reader, start, end):
    """Every row the reader emits for one micro-batch, read in-process."""
    out = []
    for part in reader.partitions(start, end):
        for batch in reader.read(part):
            out.extend(batch.to_pylist())
    return out


def _values(rows):
    return sorted((r["k"], r["v"]) for r in rows)


def _tail(spark, c, app):
    got = []
    n = S.snapshot_tail_changes(
        spark, c.t, c.progress, lambda df, v: got.append(
            (v, sorted((r.k, r.v, r._change_type) for r in df.collect()))
        ), app_id=app,
    )
    return n, got


def _check_tail(spark, case, c):
    if case == "gap":
        # a consumer that stopped at v4 resumes on the kept history
        assert _tail(spark, c, "pre") == (
            1, [(5, [(8, "e", "insert"), (9, "e", "insert")])]
        )
        # a fresh consumer reaches the gap and fails before any batch
        got = []
        with pytest.raises(FileNotFoundError):
            S.snapshot_tail_changes(spark, c.t, c.progress,
                                    lambda df, v: got.append(v),
                                    app_id="fresh")
        assert got == [] and S.last_txn(c.progress, "fresh") == -1
    else:
        c.progress = c.root / "orphan_progress"
        n, got = _tail(spark, c, "fresh")
        assert n == 2
        assert got == [
            (1, [(k, "a", "insert") for k in range(4)]),
            (4, [(4, "b", "insert"), (5, "b", "insert")]),
        ]


def _check_version_as_of(spark, case, c):
    if case == "gap":
        assert S.snapshot_version_as_of(c.t, c.ts[5]) == 5
        assert S.snapshot_version_as_of(c.t, c.ts[4]) == 4
        with pytest.raises(FileNotFoundError, match="no committed version"):
            S.snapshot_version_as_of(c.t, c.ts[3])
    else:
        # the orphans' stamps are newer than v1's but not history
        assert S.snapshot_version_as_of(c.t, c.ts[3]) == 1
        assert S.snapshot_version_as_of(c.t, c.ts[4]) == 4
        with pytest.raises(FileNotFoundError, match="no committed version"):
            S.snapshot_version_as_of(c.t, c.ts[1] - 1)


def _check_last_txn(spark, case, c):
    if case == "gap":
        assert S.last_txn(c.t, "x") == 7   # found on kept v4
        assert S.last_txn(c.t, "y") == -1  # v3 was vacuumed
        assert S.last_txn(c.t) == -1
    else:
        assert S.last_txn(c.t, "x") == -1  # stamped only on orphan v3


def _check_zorder_fallback(spark, case, c):
    tip = S.current_version(c.t)
    # the zorder commit (v2) is vacuumed or orphaned: full rewrite
    assert S._last_zorder_files(S._table(c.t), tip) is None
    if case == "orphan":
        assert S._last_zorder_files(S._table(c.t), 2) == set(
            S._read_manifest(c.t, 2)["files"]
        )


def _check_change_feed_stream(spark, case, c):
    r = _stream(c.t, readChangeFeed="true")
    if case == "gap":
        with pytest.raises(FileNotFoundError):
            r.partitions({"version": 0}, {"version": 5})
        with pytest.raises(FileNotFoundError):
            r.partitions({"version": 3}, {"version": 5})
        rows = _rows(r, {"version": 4}, {"version": 5})
        assert sorted(
            (x["k"], x["_change_type"], x["_commit_version"]) for x in rows
        ) == [(8, "insert", 5), (9, "insert", 5)]
    else:
        with pytest.raises(ValueError, match="not on the committed"):
            r.partitions({"version": 3}, {"version": 4})
        rows = _rows(r, {"version": 0}, {"version": 4})
        assert sorted(
            (x["k"], x["v"], x["_commit_version"]) for x in rows
        ) == [(k, "a", 1) for k in range(4)] + [(4, "b", 4), (5, "b", 4)]


def _check_plain_stream(spark, case, c):
    r = _stream(c.t)
    paced = _stream(c.t, maxFilesPerTrigger=100)
    if case == "gap":
        # from 0 the unpaced diff needs only the end version
        assert _values(_rows(r, {"version": 0}, {"version": 5})) == [
            (k, "a") for k in range(4)
        ] + [(4, "c"), (5, "c"), (6, "d"), (7, "d"), (8, "e"), (9, "e")]
        with pytest.raises(FileNotFoundError):
            r.partitions({"version": 1}, {"version": 5})
        with pytest.raises(FileNotFoundError):
            paced.latestOffset()
        assert _values(_rows(r, {"version": 4}, {"version": 5})) == [
            (8, "e"), (9, "e")
        ]
    else:
        # an orphan start fails loudly, paced or not: diffed as it
        # stands it would re-emit v1's rows (v3 holds their zordered copy)
        with pytest.raises(ValueError, match="not on the committed"):
            r.partitions({"version": 3}, {"version": 4})
        assert _values(_rows(r, {"version": 1}, {"version": 4})) == [
            (4, "b"), (5, "b")
        ]
        paced2 = _stream(c.t, maxFilesPerTrigger=100, startingVersion=3)
        with pytest.raises(ValueError, match="not on the committed"):
            paced2.latestOffset()
        assert paced.latestOffset() == {"version": 4}
        assert _values(_rows(paced, {"version": 0}, {"version": 4})) == [
            (k, "a") for k in range(4)
        ] + [(4, "b"), (5, "b")]


def _check_starting_timestamp(spark, case, c):
    if case == "gap":
        # a timestamp older than the kept history fails loudly
        with pytest.raises(FileNotFoundError):
            r = _stream(c.t, startingTimestamp=c.ts[1])
            r.partitions(r.initialOffset(), r.latestOffset())
    else:
        # at an orphan's stamp: the stream starts after v1, never at v3
        r = _stream(c.t, startingTimestamp=c.ts[3])
        assert r.initialOffset() == {"version": 1}
        assert _values(_rows(r, r.initialOffset(), r.latestOffset())) == [
            (4, "b"), (5, "b")
        ]


_CHECKS = {
    "tail": _check_tail,
    "version_as_of": _check_version_as_of,
    "last_txn": _check_last_txn,
    "zorder_fallback": _check_zorder_fallback,
    "change_feed_stream": _check_change_feed_stream,
    "plain_stream": _check_plain_stream,
    "starting_timestamp": _check_starting_timestamp,
}


@pytest.mark.parametrize("case", ["gap", "orphan"])
@pytest.mark.parametrize("walker", sorted(_CHECKS))
def test_history_walker(spark, tables, walker, case):
    _CHECKS[walker](spark, case, tables[case])


def _net(rows, cols):
    """Net count per row content: inserts +1, deletes -1, zeros dropped."""
    c = Counter()
    for r in rows:
        c[tuple(r[x] for x in cols)] += 1 if r["_change_type"] == "insert" else -1
    return {k: n for k, n in c.items() if n}


def test_stream_change_feed_nets_to_snapshot_change_feed(spark, tmp_path):
    """The streaming change feed, netted per row content with
    ``_commit_version`` dropped, equals ``snapshot_change_feed`` over the
    same window, for a window of append, MOR delete, MOR update,
    compaction and a column-mapped rename; and for the window after the
    compaction, where the MOR changes are deletion-vector growth on kept
    files."""
    spark.dataSource.register(SnapshotDataSource)
    t = tmp_path / "t"
    S.snapshot_write(_df(spark, 0, 10, "a"), t, stats_cols=["k"],
                     n_files=2)                                   # v1
    S.snapshot_enable_column_mapping(spark, t)                    # v2
    S.snapshot_append(_df(spark, 10, 14, "b"), t)                 # v3
    S.snapshot_delete_range_mor(spark, t, "k", 1, 2)              # v4
    S.snapshot_update_range_mor(spark, t, "k", 11, 11,
                                {"v": F.lit("u1")})               # v5
    v_compact = S.snapshot_compact(spark, t, target_files=1)      # v6
    S.snapshot_rename_column(t, "v", "w")                         # v7
    S.snapshot_delete_range_mor(spark, t, "k", 5, 5)              # v8
    S.snapshot_update_range_mor(spark, t, "k", 7, 8,
                                {"w": F.lit("u2")})               # v9
    S.snapshot_append(
        _df(spark, 20, 22, "c").withColumnRenamed("v", "w"), t
    )                                                             # v10
    tip = S.current_version(t)
    cols = ["k", "w"]
    for v_from in (1, v_compact):
        r = _stream(t, readChangeFeed="true", startingVersion=v_from)
        streamed = _rows(r, r.initialOffset(), r.latestOffset())
        feed = [
            row.asDict()
            for row in S.snapshot_change_feed(spark, t, v_from, tip).collect()
        ]
        assert sorted(feed[0]) == sorted(cols + ["_change_type"])
        assert _net(streamed, cols) == _net(feed, cols), v_from
        assert _net(feed, cols)  # the window is not empty
