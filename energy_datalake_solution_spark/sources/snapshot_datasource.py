"""PySpark Python DataSource over the snapshot table format: the format
plugs into Spark's own reader surface —

    spark.dataSource.register(SnapshotDataSource)
    spark.read.format("snapshot").option("path", t).load()
    spark.readStream.format("snapshot").option("path", t).load()

so a snapshot table is consumed like any Spark source (joins, SQL views,
Structured Streaming triggers, checkpointed exactly-once progress — all
free from the engine), instead of only through this package's Python API.

Who uses which half: ``SnapshotCatalog`` views and every library read
go through ``snapshots.snapshot_read`` (Spark's native parquet reader,
planned on the driver with no Python process); the catalog registers
this source only for ``read_stream``. The batch reader below serves
external ``format("snapshot")`` callers, and the writers serve
``df.write`` / ``writeStream``. Registering the source starts Spark's
Python data-source lookup worker, and a batch read runs each file in a
Python worker with no filter or column pushdown.

Batch read: one InputPartition PER DATA FILE, planned from ONE resolved
manifest — a consistent snapshot no matter what writers do during the
scan, with the file's deletion-vector positions shipped inside the
partition (each task drops its own dead rows; no join stage). Column
mapping applies physical->logical per batch. At 100 TB the planning cost
is the manifest resolution (O(change) amortized via the delta-manifest
cache); tasks read only their own file via pyarrow and stream Arrow
record batches to Spark — no Python row loop.

Streaming read: offsets are TABLE VERSIONS (the same contract as
snapshot_tail_changes, but surfaced through Spark's offset log — the
engine's checkpoint carries {"version": N}, so exactly-once restart
semantics come from Structured Streaming itself). Each micro-batch is the
rows of files ADDED in the version window with the end version's
deletion vectors applied: the append-feed contract of
snapshot_read_incremental. Windows containing rewrites (upserts,
compactions) re-emit carried rows by that contract — consumers needing
NET row changes use snapshot_tail_changes / snapshot_change_feed, or the
STREAMING CHANGE FEED below.

Both stream readers walk the committed history with
``snapshots._ancestry`` and diff versions with ``snapshots._manifest_diff``:
the one history walk and the one manifest diff that the library's
version-window readers (the change feed, the incremental read, the tail,
TIMESTAMP AS OF) use too.

Streaming change feed (``.option("readChangeFeed", "true")``, Delta's
CDF-stream form): each micro-batch carries net row-level changes per
commit step — added files' live rows as 'insert', removed files'
prev-live rows as 'delete', newly-dead DV positions as 'delete' — plus
``_change_type`` / ``_commit_version`` columns. Planning is pure
manifest metadata; each task reads one file. MOR updates surface as
delete(old position)+insert(postimage) in the same commit (netflow);
CoW rewrites re-emit carried rows as content-identical delete+insert
pairs, which per-key insert-wins reductions (snapshot_mirror_cycle's
rule) apply as no-ops.

Reference parity: the reference has no streaming source at all (its
ingest is S3-event Lambda, lambda/ingestion_to_raw.py:16-17); this is
north-star surface following Delta's streaming-source design
(startingVersion offsets over the transaction log).
"""

from __future__ import annotations

import os
import uuid
from pathlib import Path

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from .snapshots import (
    _PROV_COLS,
    _ancestry,
    _dv_key,
    _footer_types,
    _manifest_diff,
    _manifest_path,
    _nearest_listed_ancestor,
    _read_manifest,
    _unpack_positions,
    _wider_type,
    _written_schema,
    current_version,
)


def _ts_float(tok) -> float:
    """ISO-8601 string or epoch number -> epoch seconds (UTC assumed for
    naive timestamps, matching the manifest ts stamps)."""
    try:
        return float(tok)
    except (TypeError, ValueError):
        pass
    from datetime import datetime, timezone

    s = str(tok).strip().replace("T", " ")
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            return datetime.strptime(s, fmt).replace(
                tzinfo=timezone.utc
            ).timestamp()
        except ValueError:
            continue
    raise ValueError(f"cannot parse timestamp {tok!r}")


class _FilePartition(InputPartition):
    def __init__(
        self,
        path: str,
        positions: list | None,
        rename: list | None,
        types: dict | None = None,
        expect: list | None = None,
        cdf: tuple | None = None,
    ):
        self.path = path
        self.positions = positions  # packed DV entry for THIS file, or None
        self.rename = rename  # [(physical, logical, type_ddl)] or None
        self.types = types  # manifest's widened-type map, or None
        self.expect = expect  # declared column order (additive evolution)
        # change-feed instruction: (change_type, commit_version,
        # packed_selected_positions | None). With a selection the task
        # emits ONLY those row positions (a DV-delta delete); without,
        # the whole (DV-filtered) file emits under the change type.
        self.cdf = cdf


_PA_WIDEN = {
    "tinyint": "int8", "smallint": "int16", "int": "int32",
    "bigint": "int64", "float": "float32", "double": "float64",
}


def _arrow_batches(part: _FilePartition):
    """Read one parquet file as Arrow batches, dropping DV positions,
    widening columns to the manifest's recorded logical types (a
    pre-widening file's INT32 column surfaces as int64 — the same
    promotion snapshot_read gets from Spark's parquet reader), and
    applying the column mapping — pure Arrow, no Python row loop."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    # Spark writes timestamps as INT96, which pyarrow reads as
    # timestamp[ns] by default — a unit the Arrow-to-Spark bridge refuses
    table = pq.read_table(part.path, coerce_int96_timestamp_unit="us")
    # reserved row-provenance columns (MOR update appends) are INTERNAL:
    # the library's every read path strips them (snapshots.py::_strip_prov)
    # and the DataSource must match — surfacing them would let an
    # INSERT INTO t SELECT * FROM t round-trip write them back as data.
    # Drop BEFORE the DV filter (positions index rows, not columns).
    prov = [c for c in _PROV_COLS if c in table.column_names]
    if prov:
        table = table.drop_columns(prov)
    if part.positions:
        dead = np.asarray(_unpack_positions(part.positions), dtype=np.int64)
        keep = np.ones(table.num_rows, dtype=bool)
        keep[dead[dead < table.num_rows]] = False
        table = table.filter(pa.array(keep))
    if part.cdf is not None and part.cdf[2]:
        # DV-delta delete: emit ONLY the newly-dead positions (mutually
        # exclusive with part.positions — the planner sets one or the
        # other, never both)
        sel = np.asarray(_unpack_positions(part.cdf[2]), dtype=np.int64)
        table = table.take(pa.array(sel[sel < table.num_rows]))
    if part.types:
        for name, t in part.types.items():
            pa_t = _PA_WIDEN.get(t)
            if pa_t is None or name not in table.column_names:
                continue
            i = table.column_names.index(name)
            col = table.column(i)
            if str(col.type) != pa_t:
                table = table.set_column(
                    i, name, col.cast(getattr(pa, pa_t)())
                )
    if part.rename is not None:
        cols, names = [], []
        for entry in part.rename:
            physical, logical, t = entry[0], entry[1], entry[2]
            default = entry[3] if len(entry) > 3 else None
            names.append(logical)
            if physical in table.column_names:
                cols.append(table.column(physical))
            elif default is not None:
                # column DEFAULT: a file lacking the physical column
                # reads the declared constant, not NULL (same per-file
                # contract as the library's _read_files_with_dv)
                cols.append(_typed_const(table.num_rows, t, default))
            else:
                cols.append(_typed_nulls(table.num_rows, t))
        table = pa.table(dict(zip(names, cols)))
    elif part.expect and list(table.column_names) != [
        n for n, _t in part.expect
    ]:
        # additive schema evolution on an unmapped table: project every
        # file onto the DECLARED column set — a pre-evolution file reads
        # its missing columns as typed NULLs instead of failing the
        # engine's column-count check. NULL fills honor the WIDENED type
        # when the column is in the types map (other files surface wide).
        def _null_type(name, footer_t):
            w = (part.types or {}).get(name)
            return getattr(pa, _PA_WIDEN[w])() if w in _PA_WIDEN else footer_t

        table = pa.table(
            {
                name: (
                    table.column(name)
                    if name in table.column_names
                    else pa.nulls(table.num_rows, type=_null_type(name, t))
                )
                for name, t in part.expect
            }
        )
    if part.cdf is not None:
        ct, cv, _sel = part.cdf
        n = table.num_rows
        table = table.append_column(
            "_change_type", pa.array([ct] * n, pa.string())
        )
        table = table.append_column(
            "_commit_version", pa.array([cv] * n, pa.int64())
        )
    yield from table.to_batches()


def _mapping_renames(schema_meta: dict | None):
    if not schema_meta:
        return None
    return [
        (c["physical"], c["name"], c["type"], c.get("default"))
        for c in schema_meta["cols"]
    ]


def _parse_default_literal(expr: str):
    """Constant-literal DEFAULT expression -> Python value (the arrow
    read path has no SQL engine; defaults are restricted to literals —
    quoted strings with '' escapes, ints, floats, true/false, NULL)."""
    t = expr.strip()
    if len(t) >= 2 and t[0] == "'":
        # must be ONE quoted literal spanning the whole text ('' escapes):
        # a first/last-char check would swallow expressions like
        # ``'x' || 'y'`` as the "literal" x' || 'y
        i, n, out = 1, len(t), []
        while i < n:
            if t[i] == "'":
                if i + 1 < n and t[i + 1] == "'":
                    out.append("'")
                    i += 2
                    continue
                break
            out.append(t[i])
            i += 1
        if i == n - 1 and t[i] == "'":
            return "".join(out)
        raise ValueError(f"not a single quoted literal: {expr!r}")
    low = t.lower()
    if low == "null":
        return None
    if low in ("true", "false"):
        return low == "true"
    try:
        return int(t)
    except ValueError:
        return float(t)  # raises ValueError on non-literals — by design


def _typed_const(n: int, ddl: str | None, expr: str):
    """n copies of a literal DEFAULT as an arrow array of the column's
    DDL type (string literals cast into date/timestamp/decimal types the
    same way Spark's CAST would)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    val = _parse_default_literal(expr)
    if val is None:
        return _typed_nulls(n, ddl)
    target = _typed_nulls(0, ddl).type
    arr = pa.array([val] * n)
    if arr.type != target:
        arr = pc.cast(arr, target)
    return arr


# Footer-schema cache: data files are IMMUTABLE once published (tmp-write
# + rename; vacuum only ever deletes), so an arrow schema keyed by
# absolute path can never go stale. This turns the O(files) footer sweep
# behind schema resolution / expected-column planning into O(new files)
# across repeated loads — the SQL catalog re-registers its views per
# query, so the amortization is what keeps that freshness contract cheap.
_FOOTER_CACHE: dict = {}
_FOOTER_CACHE_MAX = 65536


def _footer_schema(path: str):
    import pyarrow.parquet as pq

    sch = _FOOTER_CACHE.get(path)
    if sch is None:
        sch = pq.read_schema(path)
        if len(_FOOTER_CACHE) >= _FOOTER_CACHE_MAX:
            _FOOTER_CACHE.clear()  # rare; simpler than LRU bookkeeping
        _FOOTER_CACHE[path] = sch
    return sch


def _expected_names(table_path: Path, rels: list) -> list:
    """Declared column order for a file set: the first-seen-order union
    of the files' footer (name, arrow type) fields — matching the
    declared schema (_spark_schema_for), with the type kept so a file
    MISSING the column can emit a correctly-typed all-NULL array (Spark's vectorized
    reader rejects untyped null arrays). Footer reads are metadata-only
    and cached (immutable files)."""
    fields: list = []
    seen: set = set(_PROV_COLS)  # internal provenance never surfaces
    for rel in rels:
        for f in _footer_schema(str(table_path / rel)):
            if f.name not in seen:
                seen.add(f.name)
                fields.append((f.name, f.type))
    return fields


_DDL_TO_ARROW = {
    "tinyint": "int8", "smallint": "int16", "int": "int32",
    "bigint": "int64", "float": "float32", "double": "float64",
    "string": "string", "boolean": "bool_", "binary": "binary",
    "date": "date32",
}


def _typed_nulls(n: int, ddl: str | None):
    """All-NULL arrow array of the Spark DDL type (falls back to string —
    a typed array Spark always accepts for a fully-NULL column)."""
    import pyarrow as pa

    name = _DDL_TO_ARROW.get((ddl or "").lower())
    t = getattr(pa, name)() if name else (
        pa.timestamp("us") if (ddl or "").lower().startswith("timestamp")
        else pa.string()
    )
    return pa.nulls(n, type=t)


def _spark_schema_for(table_path: Path, version: int):
    """Merged Spark schema of a version's files (logical names when the
    table is column-mapped), from their footers: no JVM needed at
    datasource-schema time; footers cached (immutable files). A footer
    Spark wrote types its columns as Spark wrote them (``_written_schema``:
    the parquet types alone read a ``timestamp_ntz`` as ``timestamp``);
    other writers' files type through arrow. A version listing no files
    types as ``snapshot_read`` types it: by the declared mapping, else by
    the reader schema the emptying commit recorded, else by the first
    footer of the nearest earlier version that lists files."""
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StructField, StructType

    m = _read_manifest(table_path, version)
    mapping = m.get("schema")
    if not m["files"] and not mapping:
        if m.get("empty_types"):
            return StructType([
                StructField(c, _ddl_type(t), True)
                for c, t in m["empty_types"].items()
            ])
        listed = _nearest_listed_ancestor(table_path, version)
        if listed is None:
            raise ValueError(
                f"version {version} of {table_path} lists no files"
            )
        m = {**listed, "files": listed["files"][:1]}
    fields: dict = {}
    for rel in m["files"]:
        path = str(table_path / rel)
        written = _written_schema(os.path.abspath(path)) or from_arrow_schema(
            _footer_schema(path)
        )
        for f in written.fields:
            fields.setdefault(f.name, f.dataType)
    if not fields:
        # schema-only version (empty-table DDL): the declared mapping IS
        # the schema — no footer exists to infer from
        return StructType([
            StructField(c["name"], _ddl_type(c["type"]), True)
            for c in mapping["cols"]
        ])
    # every column is NULLABLE at the table level regardless of footer
    # nullability: additive evolution NULL-fills pre-evolution files, and
    # deletion-vector filtering must never promise non-null to codegen.
    # Reserved provenance columns (MOR update appends) never surface —
    # the same strip contract as the library read paths.
    spark_schema = StructType([
        StructField(name, dtype, True)
        for name, dtype in fields.items()
        if name not in _PROV_COLS
    ])

    types = m.get("types")
    if types:
        # widened logical types override the footer-inferred ones (the
        # read side casts each file's batches up to match). Direct type
        # construction — _parse_datatype_string needs an active session,
        # and this runs inside the datasource planning worker.
        from pyspark.sql.types import (
            ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType,
        )

        widen = {
            "tinyint": ByteType(), "smallint": ShortType(),
            "int": IntegerType(), "bigint": LongType(),
            "float": FloatType(), "double": DoubleType(),
        }
        spark_schema = StructType(
            [
                StructField(
                    f.name,
                    widen.get(types.get(f.name), f.dataType),
                    True,
                )
                for f in spark_schema.fields
            ]
        )
    if not mapping:
        return spark_schema

    by_physical = {f.name: f for f in spark_schema.fields}
    out = []
    for c in mapping["cols"]:
        f = by_physical.get(c["physical"])
        dtype = f.dataType if f is not None else _ddl_type(c["type"])
        out.append(StructField(c["name"], dtype, True))
    return StructType(out)


def _ddl_type(s: str):
    """DDL type string -> DataType WITHOUT a live session —
    pyspark's _parse_datatype_string round-trips through the JVM and
    crashes inside DataSource planning workers (no active context).
    Covers the simpleString() vocabulary the manifest records for an
    ADDED column that no data file carries yet (primitives, decimal,
    array/map nesting); anything else falls back to the session parser
    (driver-side contexts still have one)."""
    import re as _re

    from pyspark.sql import types as T

    simple = {
        "boolean": T.BooleanType(), "tinyint": T.ByteType(),
        "byte": T.ByteType(), "smallint": T.ShortType(),
        "short": T.ShortType(), "int": T.IntegerType(),
        "integer": T.IntegerType(), "bigint": T.LongType(),
        "long": T.LongType(), "float": T.FloatType(),
        "real": T.FloatType(), "double": T.DoubleType(),
        "string": T.StringType(), "binary": T.BinaryType(),
        "date": T.DateType(), "timestamp": T.TimestampType(),
        "timestamp_ntz": T.TimestampNTZType(),
    }
    t = s.strip().lower()
    if t in simple:
        return simple[t]
    mm = _re.fullmatch(r"decimal(?:\s*\(\s*(\d+)\s*,\s*(\d+)\s*\))?", t)
    if mm:
        return T.DecimalType(
            int(mm.group(1) or 10), int(mm.group(2) or 0)
        )
    mm = _re.fullmatch(r"array\s*<(.+)>", t, _re.DOTALL)
    if mm:
        return T.ArrayType(_ddl_type(mm.group(1)))
    mm = _re.fullmatch(r"map\s*<(.+),(.+)>", t, _re.DOTALL)
    if mm:
        return T.MapType(_ddl_type(mm.group(1)), _ddl_type(mm.group(2)))
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(s)


class _SnapshotBatchReader(DataSourceReader):
    def __init__(self, table_path: str, version: int | None):
        self.table_path = Path(table_path)
        self.version = (
            current_version(self.table_path) if version is None else version
        )

    def partitions(self):
        m = _read_manifest(self.table_path, self.version)
        dv = m.get("dv", {}) or {}
        rename = _mapping_renames(m.get("schema"))
        # dv dicts are suffix-keyed via _dv_key; a shallow clone's inherited
        # ABSOLUTE refs only match through it (raw dv.get(rel) would silently
        # drop the vector and resurrect MOR-deleted rows).
        expect = (
            None if rename else _expected_names(self.table_path, m["files"])
        )
        return [
            _FilePartition(
                str(self.table_path / rel), dv.get(_dv_key(rel)), rename,
                m.get("types"), expect,
            )
            for rel in m["files"]
        ]

    def read(self, partition: _FilePartition):
        if partition is None:
            # zero-file version (empty-table DDL): the engine hands one
            # default partition when partitions() returns [] — no rows
            return iter(())
        yield from _arrow_batches(partition)


def _window(
    table_path: Path, v_from: int, v_to: int
) -> list[tuple[int, dict]]:
    """The committed steps ``(version, header)`` of the stream window
    (v_from, v_to], oldest first: the :func:`_ancestry` of ``v_to`` down
    to ``v_from``, so orphan manifests (lost commit races, rollbacks)
    never contribute files. Fails loudly: a vacuumed manifest in the
    window raises FileNotFoundError, and an offset the committed chain
    passes without touching (the checkpoint recorded an orphan) raises
    ValueError."""
    steps = list(_ancestry(table_path, v_to, v_from))
    end = steps[-1][1]["parent"] if steps else v_to
    if end > v_from:
        raise FileNotFoundError(
            f"manifest v{end} of {table_path} is gone (vacuumed): the "
            f"stream window ({v_from}, {v_to}] is no longer readable"
        )
    if end < v_from:
        raise ValueError(
            f"stream offset {v_from} is not on the committed ancestry of "
            f"version {v_to} (nearest ancestors {end}..{steps[-1][0]}): "
            "the checkpoint references an orphaned (uncommitted or "
            "rolled-back) version"
        )
    steps.reverse()
    return steps


class _SnapshotStreamReader(DataSourceStreamReader):
    """Version-offset streaming source: each micro-batch covers the files
    ADDED between the start and end versions, with the END version's
    deletion vectors applied (rows already dead at planning time are
    never emitted). Offsets live in Spark's checkpoint, so restart
    resumes exactly where the engine recorded — the source itself is
    stateless (rate limiting adds best-effort session state, below).

    Rate limiting (``maxFilesPerTrigger`` / ``maxBytesPerTrigger``,
    Delta's backpressure knobs): when set, ``latestOffset`` paces each
    micro-batch to at most that many files / bytes instead of jumping to
    the table tip, so one giant commit (or a long catch-up backlog)
    arrives as several bounded batches. Offsets gain Delta's
    ``(version, index)`` shape — ``{"version": v, "index": i}`` means
    "the first ``i`` files (sorted) of the commit-step that produced
    ``v``" — so a split lands MID-version and a crash at the split
    replays exactly the recorded slice: no file skipped or doubled.
    Fully-consumed versions normalize to the legacy ``{"version": v}``
    form, so pre-limit checkpoints resume unchanged. At least one file
    is always admitted per batch (a file larger than the byte cap still
    flows). Pacing needs the consumed position, which the engine does
    not hand to ``latestOffset``: it anchors on this instance's last
    planned/committed offset, falling back to ``starting_version``
    before any offset has flowed — correct on fresh starts AND
    restarts, because the engine re-plans the checkpointed batch before
    asking for a new offset (see latestOffset). One trigger caveat:
    ``availableNow`` captures one latestOffset as its fixed target, so
    with limits set each RUN drains one slice (re-run to keep
    draining); use a processing-time trigger for continuous paced
    draining."""

    def __init__(self, table_path: str, starting_version: int,
                 change_feed: bool = False,
                 max_files: int | None = None,
                 max_bytes: int | None = None):
        self.table_path = Path(table_path)
        self.starting_version = starting_version
        # readChangeFeed mode: per COMMIT STEP the batch carries net
        # row-level changes (insert / delete + _commit_version) instead
        # of appended files — see partitions() for the exact contract
        self.change_feed = change_feed
        # the engine resolved the stream's schema against the CURRENT
        # version at start — every batch must project onto that column
        # set (a pre-evolution file's missing columns read as NULL, a
        # post-start added column is invisible until restart, exactly
        # Structured Streaming's fixed-schema contract)
        tip = current_version(self.table_path)
        m = _read_manifest(self.table_path, tip) if tip else {"files": []}
        self.expect = (
            None
            if m.get("schema")
            else _expected_names(self.table_path, m["files"])
        )
        # pin the START version's widened-types map alongside the pinned
        # schema: a widening landing mid-stream must not make batches
        # arrive wider than the declared stream schema (using m_to's map
        # at planning time would cast batches to the NEW width against
        # the old declaration and hard-fail the stream — restart picks
        # the new schema up, Structured Streaming's fixed-schema contract)
        self.types = m.get("types")
        # pin the START version's column mapping too (change-feed mode):
        # physical names are FROZEN under column mapping, so the pinned
        # map resolves every historical step's files — per-step mappings
        # would emit pre-rename steps under names the declared stream
        # schema no longer carries and hard-fail a fresh catch-up read
        self.rename = _mapping_renames(m.get("schema"))
        self.max_files = max_files
        self.max_bytes = max_bytes
        # pacing anchor: the furthest offset this instance has planned or
        # committed (None until the first partitions/commit call)
        self._pos: dict | None = None
        # commit-step memo: manifests are immutable, so (parent, files
        # ADDED by commit v) caches for the reader's lifetime — the
        # pacing walk stays O(new versions) per trigger, not O(backlog)
        self._steps: dict[int, tuple[int, tuple[str, ...]]] = {}

    def _step(
        self, v: int, header: dict | None = None
    ) -> tuple[int, tuple[str, ...]]:
        """(parent, files ADDED) of commit ``v``. ``header`` comes from
        the caller's walk; a step no walk reached (a mid-version start)
        reads its own."""
        hit = self._steps.get(v)
        if hit is None:
            if header is None:
                header = dict(_ancestry(self.table_path, v, v - 1)).get(v)
                if header is None:
                    raise FileNotFoundError(_manifest_path(self.table_path, v))
            parent = header["parent"]
            added = _manifest_diff(self.table_path, parent, v)[0]
            hit = self._steps[v] = (parent, tuple(added))
        return hit

    @staticmethod
    def _off_key(off: dict) -> tuple[int, float]:
        # fully-consumed {"version": v} sorts AFTER any mid-version
        # {"version": v, "index": i} of the same version
        return (int(off["version"]),
                float(off["index"]) if "index" in off else float("inf"))

    def _advance_pos(self, off: dict) -> None:
        if self._pos is None or self._off_key(off) > self._off_key(self._pos):
            self._pos = dict(off)

    def initialOffset(self):
        off = {"version": self.starting_version}
        self._advance_pos(off)
        return off

    def latestOffset(self):
        tip = current_version(self.table_path)
        if self.max_files is None and self.max_bytes is None:
            off = {"version": tip}
            self._advance_pos(off)
            return off
        # pacing anchor: the engine calls latestOffset BEFORE
        # initialOffset on a fresh start, and on every restart it plans
        # the checkpointed batch (partitions(ckpt, ckpt-or-replay))
        # BEFORE the first new latestOffset — so when no offset has
        # passed through this instance yet, the query is at
        # starting_version by construction (probed against this Spark's
        # MicroBatchExecution; a wrong anchor would fail the query
        # loudly with a backward batch, never silently skip data)
        pos = self._pos or {"version": self.starting_version}
        v0 = int(pos["version"])
        if tip < v0 or (tip == v0 and "index" not in pos):
            return dict(pos)  # nothing new
        budget_f = self.max_files if self.max_files is not None else None
        budget_b = self.max_bytes if self.max_bytes is not None else None
        # pending work: the rest of a partially-consumed step, then every
        # committed step after it up to the tip
        pending: list[tuple[int, tuple[str, ...], int]] = []
        if "index" in pos:
            pending.append((v0, self._step(v0)[1], int(pos["index"])))
        for v, header in _window(self.table_path, v0, tip):
            pending.append((v, self._step(v, header)[1], 0))
        nf, nb = 0, 0
        out = dict(pos)
        for v, files, i in pending:
            while i < len(files):
                if budget_f is not None and nf >= budget_f:
                    break
                if budget_b is not None and nb > 0:
                    sz = (self.table_path / files[i]).stat().st_size
                    if nb + sz > budget_b:
                        break
                elif budget_b is not None:
                    sz = (self.table_path / files[i]).stat().st_size
                nf += 1
                if budget_b is not None:
                    nb += sz
                i += 1
            if i < len(files):
                if i > (int(pos.get("index", 0)) if v == v0 else 0):
                    out = {"version": v, "index": i}
                break
            out = {"version": v}  # step fully admitted (or empty commit)
        self._advance_pos(out)
        return out

    def partitions(self, start: dict, end: dict):
        v_from, v_to = int(start["version"]), int(end["version"])
        self._advance_pos(end)
        if self._off_key(end) <= self._off_key(start):
            return []
        if self.change_feed:
            return self._cdf_partitions(v_from, v_to)
        m_to = _read_manifest(self.table_path, v_to)
        dv = m_to.get("dv", {}) or {}
        rename = _mapping_renames(m_to.get("schema"))
        if "index" in start or "index" in end:
            # split-aware plan: walk the committed steps, slice the
            # endpoints' sorted file lists at their indexes, and emit
            # only files still present at (and not already present
            # before) the window — same net-files contract as the
            # endpoint diff below, deterministic across replays
            planned: list[str] = []
            base, consumed = v_from, set()
            if "index" in start:
                # mid-version start: the pre-window state is the step's
                # PARENT plus the consumed slice — v_from's own manifest
                # would wrongly contain the files still to be emitted
                i_from = int(start["index"])
                base, files = self._step(v_from)
                consumed = set(files[:i_from])
                hi = (
                    int(end["index"])
                    if v_to == v_from and "index" in end
                    else len(files)
                )
                planned.extend(files[i_from:hi])
            for v, header in _window(self.table_path, v_from, v_to):
                files = self._step(v, header)[1]
                if v == v_to and "index" in end:
                    files = files[: int(end["index"])]
                planned.extend(files)
            new = set(_manifest_diff(self.table_path, base, v_to)[0])
            added = [r for r in planned if r in new and r not in consumed]
        else:
            if v_from:
                # the endpoint diff is right only for a start on the
                # committed chain: an orphan the checkpoint recorded
                # raises, as the paced reader and the change feed do (a
                # stream from 0 needs only the end version)
                _window(self.table_path, v_from, v_to)
            added = _manifest_diff(self.table_path, v_from, v_to)[0]
        # suffix-keyed DV lookup (see _SnapshotBatchReader.partitions)
        return [
            _FilePartition(
                str(self.table_path / rel), dv.get(_dv_key(rel)), rename,
                self.types, None if rename else self.expect,
            )
            for rel in added
        ]

    def _cdf_partitions(self, v_from: int, v_to: int):
        """Change-feed planning, per COMMIT STEP (v-1 -> v), all from
        manifest metadata: files ADDED in a step emit their live rows as
        'insert' (a MOR update's postimage file is an insert here — its
        replaced positions surface as the same step's DV-delta deletes,
        the netflow contract); files REMOVED emit their prev-live rows
        as 'delete' (a CoW rewrite therefore re-emits carried rows as
        content-identical delete+insert pairs — consumers reducing
        per-key with insert-wins, e.g. snapshot_mirror_cycle's rule,
        apply them as no-ops); kept files emit their NEWLY-dead DV
        positions as 'delete'. Every record carries _commit_version, so
        downstream per-key reductions can order multi-commit batches.
        History is bounded by vacuum like Delta's CDF: a vacuumed-away
        manifest or data file in the window fails the stream loudly.

        Steps follow the PUBLISHED ancestry (:func:`_window`), not
        consecutive version numbers: orphan manifests — losing
        optimistic-commit racers, aborted transactions, rollback
        leftovers — occupy interior numbers the committed chain skips,
        and diffing v-1 vs v across one would emit never-committed rows
        as insert@orphan + delete@next with misattributed
        _commit_version. Each step is :func:`_manifest_diff` of its
        parent and itself, the diff ``snapshot_change_feed`` reads its
        window from."""
        # the STREAM-START mapping resolves every step (physical names
        # freeze under column mapping), keeping all batches on the
        # declared schema across historical renames
        rename = self.rename
        expect = None if rename else self.expect

        def part(rel, positions, cdf):
            return _FilePartition(str(self.table_path / rel), positions,
                                  rename, self.types, expect, cdf=cdf)

        parts = []
        for v, header in _window(self.table_path, v_from, v_to):
            pv = header["parent"]
            added, removed, grown = _manifest_diff(self.table_path, pv, v)
            dv_cur = _read_manifest(self.table_path, v).get("dv") or {}
            dv_prev = (
                _read_manifest(self.table_path, pv).get("dv") or {}
                if removed else {}
            )
            parts += [part(rel, dv_cur.get(_dv_key(rel)), ("insert", v, None))
                      for rel in added]
            parts += [part(rel, dv_prev.get(_dv_key(rel)), ("delete", v, None))
                      for rel in removed]
            parts += [part(rel, None, ("delete", v, pos))
                      for rel, pos in grown.items()]
        return parts

    def read(self, partition: _FilePartition):
        yield from _arrow_batches(partition)

    def commit(self, end: dict) -> None:
        # progress lives in Spark's checkpoint offset log; the pacing
        # anchor just mirrors it for the next latestOffset
        self._advance_pos(end)


def _parse_bytes(s) -> int:
    """'10m' / '1g' / plain ints — Delta's byte-size option spelling."""
    t = str(s).strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "b": 1}
    if t and t[-1] in mult:
        return max(1, int(float(t[:-1]) * mult[t[-1]]))
    return max(1, int(t))


class SnapshotDataSource(DataSource):
    """``spark.read.format("snapshot")`` / ``spark.readStream.format(
    "snapshot")`` over a snapshot table. Options: ``path`` (table root,
    required), ``version`` / ``timestampAsOf`` (batch time travel by
    version or commit wall-clock — mutually exclusive),
    ``startingVersion``
    (stream catch-up start; default 0 = from the table's beginning;
    'latest' = only commits after stream start), ``startingTimestamp``
    (ISO or epoch: include every commit stamped at-or-after — mutually
    exclusive with startingVersion),
    ``readChangeFeed`` ('true' turns the STREAM into a net row-level
    change feed with _change_type/_commit_version columns),
    ``maxFilesPerTrigger`` / ``maxBytesPerTrigger`` (stream backpressure:
    pace micro-batches to at most N files / bytes, splitting mid-version
    — see _SnapshotStreamReader; byte values accept k/m/g suffixes)."""

    @classmethod
    def name(cls) -> str:
        return "snapshot"

    def _path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError("snapshot datasource requires .option('path', ...)")
        if p.startswith("file:"):
            # catalog tables (CREATE TABLE ... USING snapshot LOCATION/
            # OPTIONS) hand the path through as a file: URI
            from urllib.parse import unquote, urlparse

            p = unquote(urlparse(p).path)
        return p

    def _change_feed(self) -> bool:
        return str(
            self.options.get("readChangeFeed", "")
        ).lower() in ("true", "1")

    def schema(self):
        p = Path(self._path())
        v_opt = (
            self._batch_version()
            if not self._change_feed()
            else self.options.get("version")
        )
        v = int(v_opt) if v_opt is not None else current_version(p)
        sch = _spark_schema_for(p, v)
        if self._change_feed():
            from pyspark.sql.types import (
                LongType, StringType, StructField, StructType,
            )

            sch = StructType(
                list(sch.fields)
                + [
                    StructField("_change_type", StringType(), True),
                    StructField("_commit_version", LongType(), True),
                ]
            )
        return sch

    def reader(self, schema) -> DataSourceReader:
        if self._change_feed():
            raise ValueError(
                "readChangeFeed is a STREAMING option "
                "(spark.readStream.format('snapshot')); batch change "
                "feeds use snapshots.snapshot_change_feed"
            )
        v = self._batch_version()
        return _SnapshotBatchReader(self._path(), v)

    def _batch_version(self) -> "int | None":
        """Resolve batch time travel: ``version`` wins the grammar check
        (both present is an error), ``timestampAsOf`` resolves to the
        latest committed version stamped at-or-before (Delta's batch
        TIMESTAMP AS OF), None reads the tip."""
        v = self.options.get("version")
        ts = self.options.get("timestampAsOf")
        if v is not None and ts is not None:
            raise ValueError("pass version OR timestampAsOf, not both")
        if ts is not None:
            from .snapshots import snapshot_version_as_of

            return snapshot_version_as_of(self._path(), _ts_float(ts))
        return int(v) if v is not None else None

    def streamReader(self, schema) -> DataSourceStreamReader:
        max_files = self.options.get("maxFilesPerTrigger")
        max_bytes = self.options.get("maxBytesPerTrigger")
        if (max_files or max_bytes) and self._change_feed():
            raise ValueError(
                "maxFilesPerTrigger/maxBytesPerTrigger do not compose "
                "with readChangeFeed (a change step is not file-"
                "sliceable); drop the rate limit or stream the table"
            )
        sv = self.options.get("startingVersion", 0)
        st = self.options.get("startingTimestamp")
        if st is not None and str(sv) not in ("0", "latest"):
            raise ValueError(
                "pass startingVersion OR startingTimestamp, not both"
            )
        p = Path(self._path())
        if st is not None:
            # Delta's startingTimestamp: include every commit stamped AT
            # OR AFTER the timestamp — the offset floor is the parent of
            # the oldest such commit on the published chain. A timestamp
            # after the tip streams only FUTURE commits.
            ts = _ts_float(st)
            starting_version = current_version(p)
            for _v, header in _ancestry(p, starting_version):
                if header.get("ts") is not None and float(header["ts"]) >= ts:
                    starting_version = header["parent"]
        elif str(sv).lower() == "latest":
            # only commits AFTER stream start (Delta's 'latest')
            starting_version = current_version(p)
        else:
            starting_version = int(sv)
        return _SnapshotStreamReader(
            str(p), starting_version,
            change_feed=self._change_feed(),
            max_files=max(1, int(max_files)) if max_files else None,
            max_bytes=_parse_bytes(max_bytes) if max_bytes else None,
        )

    def writer(self, schema, overwrite: bool):
        return _SnapshotArrowWriter(self._path(), schema, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        if overwrite:
            raise ValueError(
                "snapshot streaming sink is append-only (no complete/"
                "update output modes)"
            )
        return _SnapshotStreamArrowWriter(
            self._path(), schema,
            self.options.get("txnApp", "snapshot-datasource-stream"),
        )


# ---------------------------------------------------------------------------
# Write path: df.write.format("snapshot") / writeStream.format("snapshot").
# Each task writes its partition as one parquet file under data/<uuid>/
# (the same failed-commit-is-only-garbage layout as the library writers)
# and ships the relative path back as its commit message; the DRIVER then
# publishes one manifest through the same optimistic protocol as
# snapshot_append/snapshot_write — hard-linked manifest, locked pointer
# swap, rebase on conflict — so DataSource writers, library writers, and
# concurrent streams all serialize through one commit discipline.
# Streaming writes are exactly-once via the manifest txn map keyed by
# (app, batchId): a replayed micro-batch is detected at commit time and
# its re-written files are discarded as garbage (Delta's documented
# idempotent-sink scheme, the same one stream_snapshot_sink uses).
# ---------------------------------------------------------------------------


class _WrittenFiles(WriterCommitMessage):
    def __init__(self, rels: list):
        self.rels = rels


def _plan_write(table_path: str, schema) -> tuple:
    """Driver-side write planning against the CURRENT tip: resolve the
    column mapping (logical -> physical rename for the tasks), reconcile
    types (casts for a narrower batch; a widened ``types`` map to merge
    at commit for a wider one), and refuse what the DataSource writer
    cannot enforce (CHECK constraints need the library API's Spark-job
    validation)."""
    p = Path(table_path)
    tip = current_version(p)
    m = _read_manifest(p, tip) if tip else {}
    if m.get("constraints"):
        raise NotImplementedError(
            "table has CHECK constraints — the DataSource writer cannot "
            "validate them; write through snapshot_append/snapshot_upsert"
        )
    mapping = m.get("schema")
    rename = None
    batch_types = {f.name: f.dataType.simpleString() for f in schema.fields}
    if mapping:
        # same refusal posture as the CHECK guard above: these column
        # classes need Spark-job machinery the arrow task writer does
        # not have — identity must ALLOCATE, generated must compute or
        # validate, and an omitted write-default column must MATERIALIZE
        # its write-time value physically (silently writing past any of
        # them would corrupt the column's contract, not just skip a
        # nicety)
        managed = [
            c["name"] for c in mapping["cols"]
            if c.get("identity") or c.get("generated") is not None
        ]
        if managed:
            raise NotImplementedError(
                f"table has GENERATED / IDENTITY column(s) {managed} — "
                "the DataSource writer cannot allocate or validate "
                "them; write through snapshot_append/snapshot_upsert"
            )
        batch_lower = {f.name.lower() for f in schema.fields}
        narrow_wd = [
            c["name"] for c in mapping["cols"]
            if c.get("wdefault") is not None
            and c["name"].lower() not in batch_lower
        ]
        if narrow_wd:
            raise NotImplementedError(
                f"batch omits column(s) {narrow_wd} carrying a write "
                "default (SET DEFAULT / DROP DEFAULT) — the DataSource "
                "writer cannot materialize write-time values; supply "
                "the column or write through snapshot_append"
            )
        by_logical = {c["name"]: c["physical"] for c in mapping["cols"]}
        unknown = [c for c in batch_types if c not in by_logical]
        if unknown:
            raise KeyError(
                f"columns {unknown} are not in the table's column mapping; "
                "add them with snapshot_add_column before writing"
            )
        rename = [(c, by_logical[c]) for c in batch_types]
        batch_types = {by_logical[c]: t for c, t in batch_types.items()}
    casts: dict = {}
    types_meta = None
    if tip and m.get("files"):
        recorded = m.get("types")
        if recorded is None:
            # zero-cost fast path (mirrors _apply_type_widening): a batch
            # whose types match a single-footer probe needs no sweep, no
            # casts, and no metadata
            probe = _footer_types(p, list(m["files"])[:1])
            if all(batch_types.get(c, t) == t for c, t in probe.items()) and all(
                probe.get(c, t) == t for c, t in batch_types.items()
            ):
                return rename, casts, types_meta
            # drift fallback: the sweep distributes above the stats
            # collector's 64-file bound when a session is live (write
            # planning runs on the driver; None falls back to the local
            # loop, still correct)
            from pyspark.sql import SparkSession as _SS

            recorded = _footer_types(
                p, list(m["files"]), spark=_SS.getActiveSession()
            )
        out_types = dict(recorded)
        drift = m.get("types") is None  # bootstrapped map must be stamped
        for col, bt in batch_types.items():
            st = out_types.get(col)
            if st is None:
                out_types[col] = bt
                drift = True
                continue
            if st == bt:
                continue
            w = _wider_type(st, bt)
            if w is None:
                raise ValueError(
                    f"incompatible type change for column {col!r}: table "
                    f"has {st}, batch has {bt}"
                )
            if w != st:
                out_types[col] = w
                drift = True
            if w != bt:
                casts[col] = w
        if drift:
            types_meta = out_types
    return rename, casts, types_meta


class _SnapshotArrowWriter(DataSourceArrowWriter):
    """Batch writer (modes: append / overwrite)."""

    def __init__(self, table_path: str, schema, overwrite: bool):
        self.table_path = table_path
        self.overwrite = overwrite
        self.commit_dir = f"data/{uuid.uuid4().hex}"
        self.rename, self.casts, self.types_meta = _plan_write(
            table_path, schema
        )

    def write(self, iterator):
        rels = _write_task_file(
            self.table_path, self.commit_dir, iterator, self.rename, self.casts
        )
        return _WrittenFiles(rels)

    def commit(self, messages) -> None:
        files = [r for msg in messages if msg is not None for r in msg.rels]
        _commit_datasource_write(
            self.table_path, files, self.overwrite, self.types_meta
        )

    def abort(self, messages) -> None:
        _discard_files(
            self.table_path,
            [r for msg in messages if msg is not None for r in msg.rels],
        )


class _SnapshotStreamArrowWriter(DataSourceStreamArrowWriter):
    """Streaming sink: one snapshot append per micro-batch, exactly-once
    via the manifest txn map keyed by (txn_app, batchId)."""

    def __init__(self, table_path: str, schema, txn_app: str):
        self.table_path = table_path
        self.txn_app = txn_app
        self.commit_dir = f"data/{uuid.uuid4().hex}"
        self.rename, self.casts, self.types_meta = _plan_write(
            table_path, schema
        )

    def write(self, iterator):
        rels = _write_task_file(
            self.table_path, self.commit_dir, iterator, self.rename, self.casts
        )
        return _WrittenFiles(rels)

    def commit(self, messages, batchId: int) -> None:
        files = [r for msg in messages if msg is not None for r in msg.rels]
        _commit_datasource_write(
            self.table_path, files, False, self.types_meta,
            txn=int(batchId), txn_app=self.txn_app,
        )

    def abort(self, messages, batchId: int) -> None:
        _discard_files(
            self.table_path,
            [r for msg in messages if msg is not None for r in msg.rels],
        )


def _write_task_file(
    table_path: str, commit_dir: str, iterator, rename, casts
) -> list:
    """Executor side: drain one partition's Arrow batches into ONE parquet
    file under the commit dir (tmp-write + rename, so a dying task never
    leaves a half-file a later manifest could reference). Applies the
    logical->physical column mapping and the narrower-batch upcasts
    planned on the driver. Empty partitions write nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    batches = [b for b in iterator if b.num_rows]
    if not batches:
        return []
    table = pa.Table.from_batches(batches)
    if rename:
        table = table.rename_columns(
            [dict(rename).get(c, c) for c in table.column_names]
        )
    for col, t in (casts or {}).items():
        pa_t = _PA_WIDEN.get(t)
        if pa_t and col in table.column_names:
            i = table.column_names.index(col)
            table = table.set_column(
                i, col, table.column(i).cast(getattr(pa, pa_t)())
            )
    out_dir = Path(table_path) / commit_dir
    out_dir.mkdir(parents=True, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = out_dir / (name + ".tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, out_dir / name)
    return [f"{commit_dir}/{name}"]


def _discard_files(table_path: str, rels: list) -> None:
    for rel in rels:
        (Path(table_path) / rel).unlink(missing_ok=True)


def _commit_datasource_write(
    table_path: str,
    files: list,
    overwrite: bool,
    types_meta: dict | None,
    txn: int | None = None,
    txn_app: str | None = None,
) -> None:
    """Driver side: publish the tasks' files through the library's
    optimistic commit (rebase on conflict — blind appends compose,
    overwrite recommits replace-whatever-is-current). A txn-stamped
    commit (streaming) that finds its (app, batchId) already on the tip
    is a REPLAY: the re-written files are unlinked and the commit is
    skipped — exactly-once without coordination."""
    from .snapshots import (
        CLEAR_METADATA,
        _carry_blooms,
        _carry_dv,
        _commit,
        _merge_type_maps,
        _table,
        _transact,
    )

    p = _table(table_path)
    committed = False

    def attempt(parent, pm):
        nonlocal committed
        if overwrite:
            _commit(p, files, parent, op="write", types_meta=CLEAR_METADATA)
        else:
            old_files = pm.get("files", [])
            _commit(
                p, old_files + files, parent,
                txn=txn, txn_app=txn_app,
                stats=pm.get("stats") or None,
                blooms=_carry_blooms(p, pm, old_files, files)
                if parent else None,
                dv=_carry_dv(pm, old_files) if parent else None,
                op="append",
                types_meta=_merge_type_maps(pm.get("types"), types_meta)
                if types_meta is not None else None,
            )
        committed = True

    _transact(p, attempt, txn=txn, txn_app=txn_app, create=True)
    if not committed:
        _discard_files(table_path, files)  # replayed micro-batch
