"""SQL catalog surface over snapshot tables: CREATE TABLE ... USING
snapshot, then plain ``spark.sql`` text — the layer that lets the
reference's ``.sql`` files (athena_queries/*.sql analogs, re-targeted in
sql_queries/) run VERBATIM against snapshot-backed curated tables.

Why not Spark's own ``CREATE TABLE ... USING snapshot``? The statement
parses and resolves the schema through the registered Python DataSource,
but in this Spark build the catalog does not propagate the table's
options to the SCAN-side DataSource instance (reader() sees an empty
options dict), so the first SELECT fails. This module provides the same
contract one level up.

How a statement is read. ``SnapshotCatalog.sql(text)`` first tries a
small pattern table that holds only the forms Spark's parser rejects or
misreads. Every other statement is parsed ONCE by Spark's own parser
(``sessionState().sqlParser().parsePlan``) and dispatched on the plan's
node class: table names, column definitions, MERGE arms, time-travel
relations and ``table_changes(...)`` calls are read from the tree.
Conditions, assignment values, CHECK expressions and source queries
pass on as the statement's own text, cut at each node's origin span, so
the library sees byte for byte what was written. A statement the parser
rejects that names a registered table (or the snapshot provider) raises
ValueError with the parser's message.

Forms Spark parses (each routed to its TRANSACTIONAL library operation —
stats-pruned, DV-based, optimistic-concurrency commits, not a new engine):
    CREATE [OR REPLACE] TABLE <name> USING snapshot
        (OPTIONS (path '<p>') | LOCATION '<p>')     (register a table)
    CREATE [OR REPLACE] TABLE <name> USING snapshot [PARTITIONED BY (c, ...)]
        LOCATION '<p>' [PARTITIONED BY (c, ...)] AS <query>
                                              -> snapshot_write (CTAS)
    CREATE TABLE <name> (c type [DEFAULT expr] [GENERATED ALWAYS AS (expr)
            | GENERATED ALWAYS AS IDENTITY [(START WITH s INCREMENT BY k)]]
            [NOT NULL] [COMMENT 'txt'], ...) USING snapshot
        [PARTITIONED BY (c, ...)] LOCATION '<p>'
                                              -> snapshot_create_table
        (column clauses in any order, each at most once; a v1 schema-only
        manifest with column mapping from birth; an expression DEFAULT
        folds to its birth literal now and re-evaluates at each write;
        generated columns compute on write when omitted and are validated
        when supplied)
    DROP TABLE [IF EXISTS] <name>
    CREATE [OR REPLACE] VIEW <name> AS <query>  (text stored; resolved
        against CURRENT table versions per query — never stale)
    DROP VIEW [IF EXISTS] <name>
    INSERT INTO <name> [(col, ...)] <query>   -> snapshot_append
        (a full-width source maps by position; an explicit column list
        maps to those columns, unlisted ones resolve by DEFAULT /
        GENERATED / typed NULL on read)
    INSERT OVERWRITE [TABLE] <name> <query>   -> snapshot_replace_where
    INSERT INTO <name> REPLACE WHERE <pred> <query>
                                              -> snapshot_replace_where
    MERGE [WITH SCHEMA EVOLUTION] INTO <name> USING <src> ON (k, ...)
        WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
                                              -> snapshot_upsert
    MERGE [WITH SCHEMA EVOLUTION] INTO <name> [t] USING <src> [s]
        ON (k, ...) | t.k = s.k [AND ...]
        WHEN MATCHED [AND c] THEN UPDATE SET ... | UPDATE SET * | DELETE
        WHEN NOT MATCHED [AND c] THEN INSERT * | INSERT (cols) VALUES (...)
        WHEN NOT MATCHED BY SOURCE [AND c] THEN DELETE | UPDATE SET ...
                                              -> snapshot_merge
        (WHEN MATCHED / BY SOURCE clause pairs evaluate in WRITTEN order,
        Delta semantics; WITH SCHEMA EVOLUTION auto-adds source columns)
    DELETE FROM <name> WHERE c BETWEEN a AND b -> snapshot_delete_range_mor
    DELETE FROM <name> WHERE <any predicate>   -> snapshot_delete_where
        (``WHERE (c)`` with a bare column or literal: Spark reads WHERE as
        a table alias and ``(c)`` as its column list, so the statement is
        parsed with the table's own name as an explicit alias; a WHERE
        with no condition refuses. A query's ``FROM t WHERE (c)`` on a
        registered table is read the same way)
    UPDATE <name> SET c = e, ... WHERE k BETWEEN a AND b
                                              -> snapshot_update_range_mor
    UPDATE <name> SET c = e, ... WHERE <any predicate>
                                              -> snapshot_update_where
        (a predicate with a subquery re-points the views first; a whole
        ``col IN (SELECT ...)`` clause also prunes files by the keys'
        min/max)
    TRUNCATE TABLE <name> / DELETE FROM <name> -> snapshot_truncate
    ALTER TABLE <name> ADD COLUMN[S] [(]c type [DEFAULT e] [NOT NULL]
        [COMMENT 'txt'][, ...][)]             -> snapshot_add_column
        (every spec validates before any commits; NOT NULL needs a
        non-NULL DEFAULT; GENERATED / IDENTITY refuse)
    ALTER TABLE <name> RENAME COLUMN a TO b   -> snapshot_rename_column
    ALTER TABLE <name> DROP COLUMN c          -> snapshot_drop_column
    ALTER TABLE <name> ALTER COLUMN c SET DEFAULT e | DROP DEFAULT
                                              -> snapshot_set_column_default
    ALTER TABLE <name> ALTER COLUMN c SET NOT NULL | DROP NOT NULL
        (a reserved-name CHECK; SET validates standing data first)
    ALTER TABLE <name> ALTER COLUMN c COMMENT 'txt'
    ALTER TABLE <name> ALTER COLUMN c TYPE <wider>
                                              -> snapshot_widen_column
        (column DDL is O(metadata); column mapping auto-enables)
    ALTER TABLE <name> ADD CONSTRAINT n CHECK (e) -> snapshot_set_constraint
    ALTER TABLE <name> DROP CONSTRAINT n      -> snapshot_drop_constraint
    SHOW TBLPROPERTIES <name> / SHOW TABLES / SHOW VIEWS
    SHOW PARTITIONS <name>   (live partition value tuples of the spec)
    SHOW CREATE TABLE <name> (re-executable DDL)
    DESCRIBE [TABLE] <name>  (name/type plus DEFAULT / GENERATED /
        IDENTITY / NOT NULL decoration and comments)
    SELECT ... FROM <name> VERSION AS OF <n> | TIMESTAMP AS OF '<iso>'
        (in any statement, subqueries, CTEs, view bodies and INSERT /
        MERGE sources included: each reference re-points at a
        version-pinned temp view read from ONE manifest)
    SELECT ... FROM table_changes('<name>', v1[, v2]) ...
        -> snapshot_change_feed (net row changes with _change_type,
        reading only the files that changed)

Forms on the pattern table (Spark rejects or misparses them):
    BEGIN / COMMIT / ROLLBACK [TRANSACTION]   -> SnapshotTransaction
        (multi-table all-or-nothing; SELECTs in between read this
        session's own staged versions)
    CREATE TABLE <name> SHALLOW CLONE <src> [VERSION/TIMESTAMP AS OF ...]
        LOCATION '<p>'                        -> snapshot_clone
    CREATE [OR REPLACE] TABLE <name> USING snapshot LOCATION '<p>'
        VERSION AS OF <n>                     (a read-only pinned name)
    ALTER TABLE <name> SET PARTITIONED BY (c, ...) | CLEAR PARTITIONING
                                              -> snapshot_set_partitioning
    ALTER TABLE <name> SYNC IDENTITY          -> snapshot_sync_identity
    ALTER TABLE <name> SET TBLPROPERTIES ('k' = 'v', ...)
        | UNSET TBLPROPERTIES [IF EXISTS] ('k', ...)
        -> snapshot_set_properties / snapshot_unset_properties
    CREATE TABLE <name> (...) USING snapshot ... TBLPROPERTIES (...)
        (the trailing clause SHOW CREATE TABLE writes: the rest of the
        statement is parsed as usual, ``delta.constraints.*`` keys
        re-apply as CHECKs, so that output re-executes)
        (Spark reserves owner, location, provider and comment as
        property keys; here they are plain user metadata, carried by
        every commit)
    OPTIMIZE <name> [WHERE <pred>] [ZORDER BY (a, ...)] [INTO n FILES]
        -> snapshot_compact / snapshot_compact_where /
           snapshot_zorder_compact_n
    REORG TABLE <name> APPLY (PURGE)          -> snapshot_purge_dv
    VACUUM <name> [RETAIN n VERSIONS] [DRY RUN] -> snapshot_vacuum
    RESTORE TABLE <name> VERSION/TIMESTAMP AS OF ... -> snapshot_restore
    COPY INTO <name> FROM '<dir|glob>' FILEFORMAT = <fmt>
        [FORMAT_OPTIONS ('k' = 'v', ...)]     -> snapshot_copy_into
    ANALYZE TABLE <name> COMPUTE (STATISTICS | BLOOM FILTERS)
        FOR COLUMNS [(]a, b[)]                -> snapshot_analyze[_blooms]
    DESCRIBE DETAIL <name> / DESCRIBE HISTORY <name> (Spark reads both
        as a DESCRIBE of a column)            -> manifest / snapshot_history
    MERGE [WITH SCHEMA EVOLUTION] INTO <name> USING <src> ON (k, ...)
        (no WHEN clause)                      -> snapshot_upsert

Every other statement goes to ``spark.sql`` after the registered views
are re-pointed at their tables' CURRENT versions. Registration
materializes a temp view over ``snapshots.snapshot_read`` at ONE
resolved version: Spark's native parquet reader over that manifest's
file list, with its deletion vectors, column mapping, defaults and
widened types applied, so each query reads a consistent snapshot.
No Python worker runs, and for up to 32 Spark-written files of a table
without column mapping the view is planned on the driver from the
manifest and one footer, with no Spark job (see
``snapshots._read_files_with_dv``). Re-registration per ``sql()`` call
re-plans only tables whose version moved, and gives catalog-table
freshness. At 100 TB the per-query cost is the manifest resolution
(O(change) amortized through the delta-manifest cache) — never a file
listing. The Python data source (``snapshot_datasource``) serves only
``read_stream``.

Reference parity: the reference's tables are Glue-catalog entries over
S3 parquet queried by name from Athena SQL (athena_queries/*.sql,
scripts/athena_querier.py); here the same name->SQL flow runs against
transactional snapshot tables. Version pinning (VERSION AS OF) has no
reference analog — Delta-style time travel surfaced through DDL.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

from pyspark.errors import ParseException
from pyspark.logger import PySparkLogger
from pyspark.sql import DataFrame, SparkSession

from . import snapshots as S

# -- the pattern table: forms Spark's parser rejects or misparses ----------
_N = r"(?P<name>[A-Za-z_]\w*)"
_COLS = r"[A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*"
_END = r"\s*;?\s*$"
_I = re.IGNORECASE | re.DOTALL

_TXN_RE = re.compile(
    r"^\s*(?P<verb>BEGIN|COMMIT|ROLLBACK)(?:\s+TRANSACTION)?" + _END, _I
)
_CLONE_RE = re.compile(
    rf"^\s*CREATE\s+TABLE\s+{_N}\s+SHALLOW\s+CLONE\s+(?P<src>[A-Za-z_]\w*)"
    r"(?:\s+VERSION\s+AS\s+OF\s+(?P<version>\d+)"
    r"|\s+TIMESTAMP\s+AS\s+OF\s+(?P<ts>'[^']+'))?"
    r"\s+LOCATION\s+'(?P<path>[^']+)'" + _END, _I,
)
_CREATE_PINNED_RE = re.compile(
    rf"^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?TABLE\s+{_N}\s+"
    r"USING\s+snapshot\s+"
    r"(?:OPTIONS\s*\(\s*path\s+'(?P<opath>[^']+)'\s*\)|LOCATION\s+'(?P<lpath>[^']+)')"
    r"\s+VERSION\s+AS\s+OF\s+(?P<version>\d+)" + _END, _I,
)
_PARTITIONING_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_N}\s+(?:SET\s+PARTITIONED\s+BY\s*\(\s*"
    rf"(?P<cols>{_COLS})\s*\)|(?P<clear>CLEAR\s+PARTITIONING))" + _END, _I,
)
_SYNC_IDENTITY_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_N}\s+SYNC\s+IDENTITY" + _END, _I
)
_OPTIMIZE_RE = re.compile(
    rf"^\s*OPTIMIZE\s+{_N}(?:\s+WHERE\s+(?P<cond>.+?))?"
    rf"(?:\s+ZORDER\s+BY\s*\(\s*(?P<zcols>{_COLS})\s*\))?"
    r"(?:\s+INTO\s+(?P<n>\d+)\s+FILES)?" + _END, _I,
)
_REORG_RE = re.compile(
    rf"^\s*REORG\s+TABLE\s+{_N}\s+APPLY\s*\(\s*PURGE\s*\)" + _END, _I
)
_VACUUM_RE = re.compile(
    rf"^\s*VACUUM\s+{_N}(?:\s+RETAIN\s+(?P<n>\d+)\s+VERSIONS)?"
    r"(?:\s+(?P<dry>DRY\s+RUN))?" + _END, _I,
)
_RESTORE_RE = re.compile(
    rf"^\s*RESTORE\s+TABLE\s+{_N}\s+(?:VERSION\s+AS\s+OF\s+(?P<version>\d+)"
    r"|TIMESTAMP\s+AS\s+OF\s+(?P<ts>'[^']*'|[\d.]+))" + _END, _I,
)
_COPY_INTO_RE = re.compile(
    rf"^\s*COPY\s+INTO\s+{_N}\s+FROM\s+'(?P<src>[^']+)'\s+"
    r"FILEFORMAT\s*=\s*(?P<fmt>[A-Za-z]+)"
    r"(?:\s+FORMAT_OPTIONS\s*\((?P<opts>[^)]*)\))?" + _END, _I,
)
_ANALYZE_RE = re.compile(
    rf"^\s*ANALYZE\s+TABLE\s+{_N}\s+COMPUTE\s+"
    r"(?:STATISTICS|(?P<bloom>BLOOM\s+FILTERS))\s+FOR\s+COLUMNS\s*\(?\s*"
    rf"(?P<cols>{_COLS})\s*\)?" + _END, _I,
)
_DESCRIBE_RE = re.compile(
    rf"^\s*DESCRIBE\s+(?P<what>DETAIL|HISTORY)\s+{_N}" + _END, _I
)
_MERGE_KEYS_RE = re.compile(
    r"^\s*MERGE\s+(?P<evolve>WITH\s+SCHEMA\s+EVOLUTION\s+)?"
    rf"INTO\s+{_N}\s+USING\s+(?P<src>[A-Za-z_]\w*|\(.+\))\s+ON\s+"
    rf"\(?\s*(?P<keys>{_COLS})\s*\)?" + _END, _I,
)
# Spark's parser reserves owner, location, provider and comment as
# property keys; snapshot tables store them as plain user metadata, so
# both TBLPROPERTIES clauses are read here (the CREATE TABLE one when it
# trails the statement, as SHOW CREATE TABLE writes it)
_CREATE_PROPS_RE = re.compile(
    rf"^(?P<head>\s*CREATE\s+TABLE\s+{_N}\s*\(.*\)\s*USING\s+snapshot\b.*?)"
    r"\s+TBLPROPERTIES\s*\((?P<items>.*)\)" + _END, _I,
)
_TBLPROPS_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_N}\s+(?P<verb>SET|UNSET)\s+TBLPROPERTIES\s*"
    r"(?:IF\s+EXISTS\s*)?\((?P<items>.*)\)" + _END, _I,
)
_PROP_RE = re.compile(
    r"\s*'(?P<key>(?:[^']|'')+)'\s*(?:=\s*'(?P<val>(?:[^']|'')*)'\s*)?(?:,|$)"
)
# one FORMAT_OPTIONS pair; keys and values may be quoted either way
_OPTION_RE = re.compile(
    r"""\s*(?P<k>'[^']*'|"[^"]*"|[\w.]+)\s*=\s*(?P<v>'[^']*'|"[^"]*"|[^,\s]+)"""
    r"\s*(?:,|$)"
)
_IDENT_RE = re.compile(r"[A-Za-z_]\w*")
# DELETE FROM <name> WHERE (...): ends where an explicit alias goes
_DELETE_PAREN_RE = re.compile(
    rf"\s*DELETE\s+FROM\s+{_N}\s+(?=WHERE\s*\()", _I
)
# `FROM t WHERE (c)`: the parser may take WHERE for the relation's alias
# and (c) for its column list; a text without this shape skips the walk
_WHERE_PAREN_RE = re.compile(r"\bWHERE\s*\(", re.IGNORECASE)
# every time-travel clause ends in the word OF; a text with neither it
# nor table_changes has nothing to pin and skips the tree walk
_PIN_HINT_RE = re.compile(r"\bOF\b|table_changes", re.IGNORECASE)

# Spark's parser refusals on a snapshot table, restated in the catalog's
# words (the parser's own message follows): keyed by the error condition,
# else by the statement's first word
_REFUSALS = {
    "NON_LAST_MATCHED_CLAUSE_OMIT_CONDITION":
        "MERGE: when there are multiple WHEN MATCHED clauses, each clause "
        "except the last must have an AND condition",
    "NON_LAST_NOT_MATCHED_BY_SOURCE_CLAUSE_OMIT_CONDITION":
        "MERGE: when there are multiple WHEN NOT MATCHED BY SOURCE "
        "clauses, each clause except the last must have an AND condition",
    "_LEGACY_ERROR_TEMP_0006":
        "MERGE INSERT: the VALUES list must match the listed columns but "
        "its length differs",
    "IDENTITY_COLUMNS_ILLEGAL_STEP": "IDENTITY INCREMENT BY 0 is invalid",
    "IDENTITY_COLUMNS_UNSUPPORTED_DATA_TYPE":
        "IDENTITY requires an integral type",
    "UPDATE":
        "unsupported SET assignment or WHERE clause (expected UPDATE <t> "
        "SET col = expr, ... WHERE <predicate>)",
    "MERGE":
        "MERGE: unsupported clause (WHEN MATCHED takes UPDATE SET or "
        "DELETE, WHEN NOT MATCHED takes INSERT, WHEN NOT MATCHED BY SOURCE "
        "takes DELETE or UPDATE SET t.<col> = ... — there is no source "
        "row, so no INSERT and no SET *)",
    "CREATE": "CREATE TABLE: cannot parse column spec or table clause",
    "ALTER": "unsupported ALTER TABLE statement",
}

# subquery expressions: the walk steps from them into their plans
_SUBQUERIES = {"ListQuery", "Exists", "ScalarSubquery", "LateralSubquery"}
_RELATIONS = {"UnresolvedRelation", "RelationTimeTravel"}


def _seq(x) -> list:
    """A Scala collection's elements (a Map's as key/value tuples)."""
    it, out = x.iterator(), []
    while it.hasNext():
        out.append(it.next())
    return out


def _opt(x):
    return x.get() if x.isDefined() else None


def _cls(node) -> str:
    return node.getClass().getSimpleName()


def _origin(text: str, node) -> tuple:
    """(start, stop) of a node's parser origin in ``text``, or Nones
    when the origin belongs to another text (the parser's shared TRUE
    and FALSE literals keep the origin of whatever statement built
    them)."""
    o = node.origin()
    if _opt(o.sqlText()) != text:
        return None, None
    a, b = _opt(o.startIndex()), _opt(o.stopIndex())
    return a, b + 1 if b is not None else None


def _start(text: str, node) -> int | None:
    """Where a node's text starts. A predicate's origin starts at its
    keyword (BETWEEN, IN, IS, LIKE) and a join's at JOIN, so the start
    follows the first child; a time-travel relation's origin is its AS
    OF clause, so it starts at the table name; EXISTS takes the origin
    of its enclosing clause, so it starts at the keyword before its
    subquery."""
    cls = _cls(node)
    if cls == "RelationTimeTravel":
        return _start(text, node.relation())
    if cls == "Exists":
        return text.upper().rindex("EXISTS", 0, _start(text, node.plan()))
    kids = _seq(node.children())
    starts = [_origin(text, node)[0], _start(text, kids[0]) if kids else None]
    return min((s for s in starts if s is not None), default=None)


def _stop(text: str, node) -> int | None:
    """Where a node's text ends (exclusive), following the last child."""
    if _cls(node) == "Exists":
        return text.index(")", _stop(text, node.plan())) + 1
    kids = _seq(node.children())
    stops = [_origin(text, node)[1], _stop(text, kids[-1]) if kids else None]
    return max((s for s in stops if s is not None), default=None)


def _cut(text: str, node) -> str:
    """The statement's own text for a node (a node the parser placed
    nowhere in it, such as a shared TRUE literal, prints as SQL)."""
    start = _start(text, node)
    return node.sql() if start is None else text[start:_stop(text, node)]


def _walk(node) -> list:
    """Every node under ``node``: children, a plan's CTE bodies and
    subquery plans (its inner children), and a subquery expression's
    plan."""
    out, stack = [], [node]
    while stack:
        n = stack.pop()
        out.append(n)
        stack += _seq(n.children()) + _seq(n.innerChildren())
        if _cls(n) in _SUBQUERIES:
            stack.append(n.plan())
    return out


def _parts(node) -> list:
    """Name parts of a relation, identifier or attribute node."""
    cls = _cls(node)
    if cls == "UnresolvedIdentifier":
        return _seq(node.nameParts())
    if cls in ("UnresolvedRelation", "UnresolvedTable",
               "UnresolvedTableOrView"):
        return _seq(node.multipartIdentifier())
    if cls in ("UnresolvedAttribute", "UnresolvedFieldName"):
        return _seq(node.nameParts() if cls == "UnresolvedAttribute"
                    else node.name())
    return []


def _ident(name: str, what: str) -> str:
    if not _IDENT_RE.fullmatch(name):
        raise ValueError(
            f"{what}: {name!r} is not a plain identifier ([A-Za-z_][A-Za-z0-9_]*)"
        )
    return name


def _column(node, what: str) -> str:
    """The one column a single-part attribute or field name names."""
    parts = _parts(node)
    if len(parts) != 1:
        raise ValueError(f"{what}: expected a plain column, got {parts}")
    return _ident(parts[0], what)


def _literal(tok: str):
    """A literal token (a BETWEEN bound, a table_changes argument): int,
    float, or single-quoted string."""
    if tok.startswith("'") and tok.endswith("'"):
        return tok[1:-1]
    try:
        return int(tok)
    except ValueError:
        return float(tok)


def _ts_literal(tok: str) -> float:
    """A TIMESTAMP AS OF value -> epoch seconds: numeric literals pass
    through; quoted date/datetime strings parse as ISO-8601 (Delta's
    timestamp-travel syntax — '2026-01-01' / '2026-01-01 12:00:00'),
    failing with a CLEAR error instead of float()'s opaque ValueError."""
    v = _literal(tok)
    if not isinstance(v, str):
        return float(v)
    from datetime import datetime

    try:
        return datetime.fromisoformat(v).timestamp()
    except ValueError:
        try:
            return float(v)
        except ValueError:
            raise ValueError(
                f"TIMESTAMP AS OF {tok}: expected an ISO-8601 date/"
                "datetime string or epoch seconds"
            ) from None


def _between(text: str, cond):
    """(col, lo, hi) of a whole-clause ``col BETWEEN lo AND hi`` over
    numeric or quoted-string literal bounds (the range fast paths), else
    None."""
    if _cls(cond) != "UnresolvedFunction" or [
        p.lower() for p in _seq(cond.nameParts())
    ] != ["between"]:
        return None
    args = _seq(cond.arguments())
    if len(args) != 3 or len(_parts(args[0])) != 1 or not all(
        _cls(a) in ("Literal", "UnaryMinus") for a in args[1:]
    ):
        return None
    try:
        return (_parts(args[0])[0], *(_literal(_cut(text, a)) for a in args[1:]))
    except ValueError:
        return None


def _assignments(text: str, assignments) -> dict:
    """SET / INSERT VALUES assignments -> {col: expr text}; a ``t.``
    qualifier on the target column drops."""
    out = {}
    for a in _seq(assignments):
        parts = _parts(a.key())
        if len(parts) == 2 and parts[0] == "t":
            parts = parts[1:]
        if len(parts) != 1:
            raise ValueError(
                f"unsupported SET assignment to {'.'.join(parts)!r}: "
                "expected `col = expr` pairs"
            )
        out[_ident(parts[0], "SET assignment")] = _cut(text, a.value())
    return out


def _merge_keys(text: str, cond) -> list:
    """MERGE ON -> key list: ``(k1, k2)`` / ``k`` or the equality form
    ``t.k = s.k [AND t.j = s.j]`` (same name both sides — renaming joins
    are outside the documented subset)."""
    cls = _cls(cond)
    if cls == "UnresolvedAttribute":
        return [_column(cond, "MERGE ON")]
    if cls == "CreateNamedStruct":
        return [_column(v, "MERGE ON") for v in _seq(cond.valExprs())]

    def eq(n) -> list:
        if _cls(n) == "And":
            return eq(n.left()) + eq(n.right())
        if _cls(n) == "EqualTo":
            lp, rp = _parts(n.left()), _parts(n.right())
            if (len(lp) == 2 == len(rp) and lp[0] == "t" and rp[0] == "s"
                    and lp[1].lower() == rp[1].lower()):
                return [lp[1]]
        raise ValueError(
            f"MERGE ON clause {_cut(text, cond)!r}: expected a key list "
            "or t.<k> = s.<k> equalities (same column name both sides)"
        )

    return eq(cond)


def _partition_cols(partitioning) -> list:
    """PARTITIONED BY (c, ...) as column names (transforms refuse)."""
    cols = []
    for t in _seq(partitioning):
        refs = list(t.references())
        if t.name() != "identity" or len(refs) != 1:
            raise ValueError(
                f"PARTITIONED BY {t.describe()}: only plain columns partition"
            )
        cols.append(_ident(".".join(refs[0].fieldNames()), "PARTITIONED BY"))
    return cols


def _property_list(items: str, verb: str, pairs: bool) -> dict:
    """A TBLPROPERTIES list -> {key: value} (keys only: values ''). Keys
    and values are quoted strings, '' escaping a quote."""
    what, form = ("pair", "'key' = 'value'") if pairs else ("key", "'key'")
    props, pos = {}, 0
    while pos < len(items) or not props:
        p = _PROP_RE.match(items, pos)
        if not p or (p.group("val") is None) == pairs:
            raise ValueError(
                f"{verb} TBLPROPERTIES: cannot parse {what} "
                f"{items[pos:].strip()!r} (expected {form})"
            )
        props[p.group("key").replace("''", "'")] = (
            (p.group("val") or "").replace("''", "'")
        )
        pos = p.end()
    return props


def _render_sql_literal(v) -> str:
    """A collected Python value back as SQL literal text that
    _parse_default_literal round-trips (dates/timestamps as quoted ISO
    strings — the arrow read path casts string -> date/timestamp)."""
    import datetime
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime.datetime):
        return "'" + v.isoformat(sep=" ") + "'"
    if isinstance(v, datetime.date):
        return "'" + v.isoformat() + "'"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    raise ValueError(
        f"cannot store a {type(v).__name__} as a DEFAULT literal"
    )


def _fold_default(spark: SparkSession, expr: str) -> "tuple[str, str | None]":
    """DDL-time DEFAULT handling, Spark's documented split: a literal
    stays as-is (it is both the birth and the write default); an
    EXPRESSION constant-folds NOW into the stored birth/exists default
    — what files predating the column read, Spark's EXISTS_DEFAULT —
    while the raw expression becomes the WRITE default, re-evaluated at
    each insert (Spark's CURRENT_DEFAULT; `DEFAULT current_date()`
    stamps each batch's own date). Returns (birth_literal_text,
    write_expr_or_None). Raises ValueError if the expression needs a
    row context (column references are not constants)."""
    from .snapshot_datasource import _parse_default_literal

    try:
        _parse_default_literal(expr)
        return expr, None
    except ValueError:
        pass
    # name blocklist BEFORE the Catalyst probe: the probe's determinism
    # flag is authoritative, but if the Py4J internals are unreachable
    # (exotic session types) the known nondeterministic functions must
    # still refuse rather than silently freeze one random sample as the
    # birth default
    nondet_names = {
        "rand", "randn", "random", "uuid", "shuffle",
        "monotonically_increasing_id",
    }
    called = {
        m.group(1).lower()
        for m in re.finditer(r"([A-Za-z_]\w*)\s*\(", expr)
    }
    if called & nondet_names:
        raise ValueError(
            f"DEFAULT {expr!r} is nondeterministic; only constant "
            "or query-constant expressions (current_date(), "
            "current_timestamp()) are allowed"
        )
    # Scalar subqueries would pass the probe below (the fold would
    # freeze arbitrary catalog state as the birth default and the raw
    # subquery would re-run on every narrow write) — Spark/Delta
    # restrict DEFAULTs to subquery-free constant expressions, so
    # refuse any SELECT outside a string literal before probing.
    if re.search(r"\bselect\b", re.sub(r"'(?:[^']|'')*'", "''", expr),
                 re.IGNORECASE):
        raise ValueError(
            f"DEFAULT {expr!r} contains a subquery; column defaults "
            "must be constant expressions with no subqueries (Spark "
            "and Delta enforce the same restriction)"
        )
    try:
        probe = spark.sql(f"SELECT ({expr}) AS v")
        row = probe.first()
    except Exception as e:
        raise ValueError(
            f"DEFAULT {expr!r} is neither a literal nor a "
            f"constant-foldable expression: {e}"
        ) from None
    try:
        # Catalyst's own determinism flag: rand()/uuid()-class
        # expressions refuse (Spark's DEFAULT contract); current_date /
        # current_timestamp are deterministic within a query and pass
        it = probe._jdf.queryExecution().analyzed().expressions().iterator()
        nondet = False
        while it.hasNext():
            if not it.next().deterministic():
                nondet = True
                break
    except Exception:
        nondet = False  # probe unavailable: evaluation above gates
    if nondet:
        raise ValueError(
            f"DEFAULT {expr!r} is nondeterministic; only constant "
            "or query-constant expressions (current_date(), "
            "current_timestamp()) are allowed"
        )
    return _render_sql_literal(row["v"]), expr


class SnapshotCatalog:
    """Session-scoped snapshot-table catalog: name -> (path, version).

    ``sql()`` is the single entry point — the pattern table, then one
    parse and a dispatch on the plan's node class; anything no route
    takes re-registers every live table at its current version and runs
    on ``spark.sql``. The underlying DataSource must be registered once
    per session (done lazily here)."""

    # plan node class -> route; a route returns NotImplemented when the
    # statement is not on a registered snapshot table
    _ROUTES = {
        "DeleteFromTable": "_delete",
        "UpdateTable": "_update",
        "MergeIntoTable": "_merge",
        "InsertIntoStatement": "_insert",
        "OverwriteByExpression": "_insert",
        "CreateTable": "_create",
        "ReplaceTable": "_create",
        "CreateTableAsSelect": "_create",
        "ReplaceTableAsSelect": "_create",
        "DropTable": "_drop_table",
        "CreateView": "_create_view",
        "DropView": "_drop_view",
        "TruncateTable": "_truncate",
        "AddColumns": "_add_columns",
        "RenameColumn": "_rename_column",
        "DropColumns": "_drop_columns",
        "AlterColumns": "_alter_column",
        "AddCheckConstraint": "_add_constraint",
        "DropConstraint": "_drop_constraint",
        "ShowTableProperties": "_show_properties",
        "ShowPartitions": "_show_partitions",
        "ShowCreateTable": "_show_create",
        "DescribeRelation": "_describe_table",
        "ShowTables": "_show_tables",
        "ShowViews": "_show_tables",
    }
    _PATTERNS = (
        (_TXN_RE, "_transaction"),
        (_CLONE_RE, "_clone"),
        (_CREATE_PINNED_RE, "_create_pinned"),
        (_PARTITIONING_RE, "_partitioning"),
        (_SYNC_IDENTITY_RE, "_sync_identity"),
        (_OPTIMIZE_RE, "_optimize"),
        (_REORG_RE, "_reorg"),
        (_VACUUM_RE, "_vacuum"),
        (_RESTORE_RE, "_restore"),
        (_COPY_INTO_RE, "_copy_into"),
        (_ANALYZE_RE, "_analyze"),
        (_TBLPROPS_RE, "_properties"),
        (_CREATE_PROPS_RE, "_create_with_properties"),
        (_DESCRIBE_RE, "_describe_meta"),
        (_MERGE_KEYS_RE, "_merge_keys_only"),
    )

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._parser = spark._jsparkSession.sessionState().sqlParser()
        # the tree-pattern bit every subquery expression sets on its
        # ancestors: one Py4J call tells whether a condition has one
        self._subquery_bit = (
            spark._jvm.org.apache.spark.sql.catalyst.trees.TreePattern
            .PLAN_EXPRESSION()
        )
        self._tables: dict[str, tuple[str, int | None]] = {}
        self._views: dict[str, str] = {}  # named views, creation order
        self._txn = None  # open BEGIN TRANSACTION, if any
        # (path, version, manifest ts) each registered view is pinned at —
        # lets _refresh skip re-planning tables whose resolved version
        # did not move (see _register)
        self._pinned: dict[str, tuple] = {}

    # -- DDL ---------------------------------------------------------------
    def create_table(
        self, name: str, path: str, version: int | None = None
    ) -> None:
        if not (Path(path) / "_latest").exists():
            raise FileNotFoundError(f"no snapshot table at {path}")
        self._tables[name] = (str(path), version)
        self._register(name)

    def drop_table(self, name: str, if_exists: bool = False) -> None:
        if name not in self._tables:
            if if_exists:
                return
            raise KeyError(f"no snapshot table registered as {name!r}")
        del self._tables[name]
        self._pinned.pop(name, None)
        self.spark.catalog.dropTempView(name)

    # -- query -------------------------------------------------------------
    def sql(self, text: str) -> DataFrame | None:
        for pattern, route in self._PATTERNS:
            m = pattern.match(text)
            if m:
                out = getattr(self, route)(m)
                if out is not NotImplemented:
                    return out
                break
        m = _DELETE_PAREN_RE.match(text)
        if m and m["name"] in self._tables:
            # the parser would read `WHERE (c)` as an alias and its column
            # list; with the alias named, WHERE is the clause it reads as
            text = f"{text[:m.end()]}AS {m['name']} {text[m.end():]}"
        plan = self._parse(text)
        if _WHERE_PAREN_RE.search(text):
            text, plan = self._where_alias(text, plan)
        route = self._ROUTES.get(_cls(plan))
        out = getattr(self, route)(text, plan) if route else NotImplemented
        if out is not NotImplemented:
            return out
        # an ALTER TABLE on a REGISTERED table that no route took refuses
        # HERE: on spark.sql it would hit the temp VIEW registration
        # ("expects a table but is a view")
        kids = _seq(plan.children())
        if (kids and _cls(kids[0]) == "UnresolvedTable"
                and kids[0].commandName().startswith("ALTER TABLE")
                and self._registered(kids[0])):
            raise ValueError(
                "unsupported ALTER TABLE statement for snapshot table "
                f"{self._registered(kids[0])!r}: {text.strip()[:120]!r} — "
                "see the SnapshotCatalog docstring for the supported DDL "
                "surface"
            )
        # plain SQL: re-point every registered view at the CURRENT version
        # (O(manifest) each — catalog freshness without staleness bugs)
        self._refresh()
        return self.spark.sql(self._pin_text(text, plan))

    def _parse(self, text: str):
        """Spark's logical plan of ``text``. A statement the parser
        rejects that names a registered table or the snapshot provider
        refuses with ValueError: the catalog's words, then the parser's
        message. pyspark's JSON ERROR record of the parse failure stays
        off stderr: the caller gets the error, raised."""
        log = PySparkLogger.getLogger("SQLQueryContextLogger")
        was, log.disabled = log.disabled, True
        try:
            return self._parser.parsePlan(text)
        except ParseException as e:
            words = re.findall(r"\w+", text)
            if not (set(words) & set(self._tables)
                    or "snapshot" in {w.lower() for w in words}):
                raise
            hint = _REFUSALS.get(e.getCondition()) or _REFUSALS.get(
                words[0].upper() if words else "", "cannot parse statement"
            )
            raise ValueError(f"{hint}: {str(e).strip()}") from None
        finally:
            log.disabled = was

    def _where_alias(self, text: str, plan) -> tuple:
        """``FROM t WHERE (c)`` on a registered table: the parser reads
        WHERE as t's alias and ``(c)`` as its column list, so the query
        would return every row unfiltered. Name the alias (the table's
        own name) so WHERE reads as the clause it is, and parse again."""
        cuts = []
        for n in _walk(plan):
            if (_cls(n) != "SubqueryAlias" or n.alias().upper() != "WHERE"
                    or _cls(n.child()) != "UnresolvedSubqueryColumnAliases"):
                continue
            rel = n.child().child()
            name = self._registered(
                rel.relation() if _cls(rel) == "RelationTimeTravel" else rel
            )
            if name is not None:
                cuts.append((_stop(text, rel), name))
        if not cuts:
            return text, plan
        for pos, name in sorted(cuts, reverse=True):
            text = f"{text[:pos]} AS {name}{text[pos:]}"
        return text, self._parse(text)

    def _registered(self, node) -> str | None:
        """The registered table a relation node names (through a
        SubqueryAlias), else None."""
        while _cls(node) == "SubqueryAlias":
            node = node.child()
        parts = _parts(node)
        return parts[0] if len(parts) == 1 and parts[0] in self._tables \
            else None

    def _pin_text(self, text: str, root, start: int = 0,
                  stop: int | None = None) -> str:
        """``text[start:stop]`` with every time-travel relation and
        ``table_changes(...)`` call under ``root`` that names a
        registered table re-pointed at a pinned temp view. Cost:
        O(manifest) per reference — never a data read; a text with no
        such clause costs one regex search, not a tree walk."""
        stop = len(text) if stop is None else stop
        if not _PIN_HINT_RE.search(text, start, stop):
            return text[start:stop]
        edits = []
        for n in _walk(root):
            cls = _cls(n)
            if cls == "RelationTimeTravel":
                name = self._registered(n.relation())
                if name is not None:
                    edits.append((_start(text, n), _stop(text, n),
                                  self._pin_version(text, name, n)))
            elif cls == "UnresolvedTableValuedFunction" and [
                p.lower() for p in _seq(n.name())
            ] == ["table_changes"]:
                args = _seq(n.functionArgs())
                try:
                    name, *vs = [_literal(_cut(text, a)) for a in args]
                except ValueError:
                    continue
                if (name in self._tables and 1 <= len(vs) <= 2
                        and all(isinstance(v, int) for v in vs)):
                    close = text.index(")", _stop(text, args[-1])) + 1
                    edits.append((_start(text, n), close,
                                  self._pin_changes(name, *vs)))
        out, pos = [], start
        for a, b, view in sorted(e for e in edits if start <= e[0] < stop):
            out += [text[pos:a], view]
            pos = b
        return "".join(out) + text[pos:stop]

    def _pin_version(self, text: str, name: str, tt) -> str:
        """A ``<name> VERSION AS OF n`` / ``TIMESTAMP AS OF ts`` relation
        as a version-pinned temp view over ONE resolved manifest."""
        path, _ = self._tables[name]
        version, ts = _opt(tt.version()), _opt(tt.timestamp())
        v = int(version) if version is not None else \
            S.snapshot_version_as_of(path, _ts_literal(_cut(text, ts)))
        view = f"{name}__asof_v{v}"
        S.snapshot_read(self.spark, path, version=v) \
            .createOrReplaceTempView(view)
        return view

    def _pin_changes(self, name: str, v1: int, v2: int | None = None) -> str:
        """A ``table_changes('t', v1[, v2])`` call (Delta's batch CDF SQL
        surface) as a temp view over :func:`snapshot_change_feed` — the
        manifest-aware net change set between the versions (v2 defaults
        to the current tip); only files that CHANGED are read."""
        path, _ = self._tables[name]
        view = f"{name}__changes_{v1}_{v2 if v2 is not None else 'tip'}"
        S.snapshot_change_feed(self.spark, path, v1, v2) \
            .createOrReplaceTempView(view)
        return view

    def _pin_query(self, query: str) -> str:
        """A stored query (a view body, a pattern-table source) with its
        time-travel and table_changes references pinned."""
        if not _PIN_HINT_RE.search(query):
            return query
        return self._pin_text(query, self._parse(query))

    def _query_sql(self, text: str, node) -> str:
        """A source query's text, pinned; a bare relation (``USING src``,
        ``TABLE src``) reads as ``SELECT * FROM`` it."""
        sql = self._pin_text(text, node, _start(text, node), _stop(text, node))
        return f"SELECT * FROM {sql}" if _cls(node) in _RELATIONS else sql

    def _fresh_sql(self, text: str, node) -> DataFrame:
        """Run a source query with every registered view re-pointed at its
        table's current version (INSERT/MERGE/CTAS sources see fresh
        data); its time-travel clauses pin like any query's."""
        self._refresh()
        return self.spark.sql(self._query_sql(text, node))

    # -- the pattern table's routes -----------------------------------------
    def _transaction(self, m: "re.Match"):
        verb = m.group("verb").upper()
        if verb == "BEGIN":
            if self._txn is not None:
                raise RuntimeError("a transaction is already open")
            self._txn = S.SnapshotTransaction()
            self._txn.__enter__()
            return None
        if self._txn is None:
            raise RuntimeError(f"{verb} without an open transaction")
        txn, self._txn = self._txn, None
        if verb == "COMMIT":
            txn.__exit__(None, None, None)  # all-or-nothing swap; raises
            # SnapshotCommitConflict on abort (staged manifests orphan)
        else:
            txn.__exit__(RuntimeError, RuntimeError("rollback"), None)
        return None

    def _clone(self, m: "re.Match"):
        """SHALLOW CLONE: a new table whose first manifest references the
        source version's files by absolute path — zero data copied."""
        if self._txn is not None:
            raise RuntimeError(
                "SHALLOW CLONE inside an open transaction is not "
                "supported (the clone's pointer would not exist "
                "until COMMIT); COMMIT first"
            )
        name, src = m.group("name"), m.group("src")
        if name in self._tables:
            raise ValueError(f"table {name!r} already registered")
        if src not in self._tables:
            raise ValueError(f"unknown source table {src!r}")
        spath, spin = self._tables[src]
        v, ts = m.group("version"), m.group("ts")
        S.snapshot_clone(
            spath, m.group("path"),
            # an unqualified clone of a version-pinned registration
            # clones the PINNED version (what the name reads as)
            version=int(v) if v is not None else spin,
            as_of_ts=_ts_literal(ts) if ts else None,
        )
        self.create_table(name, m.group("path"))
        return None

    def _create_pinned(self, m: "re.Match"):
        name = m.group("name")
        if name in self._tables and not m.group("replace"):
            raise ValueError(
                f"table {name!r} already registered "
                "(use CREATE OR REPLACE TABLE)"
            )
        self.create_table(
            name, m.group("opath") or m.group("lpath"), int(m.group("version"))
        )
        return None

    def _partitioning(self, m: "re.Match"):
        if m.group("name") not in self._tables:
            return NotImplemented
        S.snapshot_set_partitioning(
            self._writable(m.group("name")),
            None if m.group("clear")
            else [c.strip() for c in m.group("cols").split(",")],
        )
        return None

    def _sync_identity(self, m: "re.Match"):
        if m.group("name") not in self._tables:
            return NotImplemented
        S.snapshot_sync_identity(self.spark, self._writable(m.group("name")))
        return None

    def _no_txn(self, what: str) -> None:
        if self._txn is not None:
            raise RuntimeError(
                f"{what} inside an open transaction is not supported; "
                "COMMIT first"
            )

    def _optimize(self, m: "re.Match"):
        if m.group("name") not in self._tables:
            return NotImplemented
        self._no_txn("OPTIMIZE")
        path = self._writable(m.group("name"))
        n = int(m.group("n")) if m.group("n") else None
        if m.group("cond"):
            if m.group("zcols"):
                raise ValueError(
                    "OPTIMIZE WHERE does not compose with ZORDER BY "
                    "(z-ordering is a whole-layout property)"
                )
            S.snapshot_compact_where(
                self.spark, path, m.group("cond"), target_files=n or 1
            )
        elif m.group("zcols"):
            S.snapshot_zorder_compact_n(
                self.spark, path,
                [c.strip() for c in m.group("zcols").split(",")],
                **({"n_files": n} if n else {}),
            )
        else:
            S.snapshot_compact(self.spark, path, target_files=n or 1)
        return None

    def _reorg(self, m: "re.Match"):
        if m.group("name") not in self._tables:
            return NotImplemented
        self._no_txn("REORG")
        S.snapshot_purge_dv(self.spark, self._writable(m.group("name")))
        return None

    def _vacuum(self, m: "re.Match"):
        if m.group("name") not in self._tables:
            return NotImplemented
        if self._txn is not None:
            raise RuntimeError(
                "VACUUM inside an open transaction would anchor "
                "retention on the staged version; COMMIT first"
            )
        path, _ = self._tables[m.group("name")]
        keep = int(m.group("n")) if m.group("n") else 1
        if m.group("dry"):
            rels = S.snapshot_vacuum(path, keep_versions=keep, dry_run=True)
            return self.spark.createDataFrame(
                [(r,) for r in rels] or [], "path string"
            )
        S.snapshot_vacuum(path, keep_versions=keep)
        return None

    def _restore(self, m: "re.Match"):
        if m.group("name") not in self._tables:
            return NotImplemented
        path = self._writable(m.group("name"))
        if m.group("version") is not None:
            S.snapshot_restore(path, int(m.group("version")))
        else:
            S.snapshot_restore(path, as_of_ts=_ts_literal(m.group("ts")))
        return None

    def _copy_into(self, m: "re.Match"):
        """COPY INTO: file-granular idempotent load — reruns skip files
        already ingested (the ledger commits atomically with the rows)."""
        if m.group("name") not in self._tables:
            return NotImplemented
        path = self._writable(m.group("name"))
        opts, items, pos = {}, m.group("opts") or "", 0
        while items[pos:].strip():
            o = _OPTION_RE.match(items, pos)
            if not o:
                raise ValueError(
                    f"COPY INTO: bad FORMAT_OPTIONS pair {items[pos:].strip()!r}"
                )
            opts[o.group("k").strip("'\"")] = o.group("v").strip("'\"")
            pos = o.end()
        S.snapshot_copy_into(
            self.spark, m.group("src"), path,
            fileformat=m.group("fmt").lower(),
            format_options=opts or None,
        )
        return None

    def _analyze(self, m: "re.Match"):
        """ANALYZE: metadata-only stats / bloom backfill — retrofits file
        pruning onto stats-less tables."""
        if m.group("name") not in self._tables:
            return NotImplemented
        fn = S.snapshot_analyze_blooms if m.group("bloom") else S.snapshot_analyze
        fn(
            self.spark, self._writable(m.group("name")),
            [c.strip() for c in m.group("cols").split(",")],
        )
        return None

    def _properties(self, m: "re.Match"):
        """SET / UNSET TBLPROPERTIES: user key-value metadata carried by
        every commit, inherited by clones, reverted by RESTORE. Keys and
        values are quoted strings ('' escapes a quote)."""
        if m.group("name") not in self._tables:
            return NotImplemented
        path = self._writable(m.group("name"))
        verb = m.group("verb").upper()
        props = _property_list(m.group("items"), verb, verb == "SET")
        if verb == "SET":
            S.snapshot_set_properties(path, props)
        else:
            S.snapshot_unset_properties(path, list(props))
        return None

    def _create_with_properties(self, m: "re.Match"):
        """Empty-table DDL with a trailing TBLPROPERTIES clause: the
        clause is read here, the rest parsed as usual."""
        props = _property_list(m.group("items"), "CREATE TABLE", True)
        head = m.group("head")
        return self._create(head, self._parse(head), props)

    def _describe_meta(self, m: "re.Match"):
        """DESCRIBE HISTORY (the commit log) / DESCRIBE DETAIL (version,
        files, partitioning, bucketing, widened types, constraints,
        column mapping — manifest-only)."""
        name = m.group("name")
        if name not in self._tables:
            return NotImplemented
        path, pin = self._tables[name]
        if m.group("what").upper() == "HISTORY":
            return self.spark.createDataFrame(
                [
                    (
                        r["version"], r["parent"], r["op"],
                        float(r["ts"]) if r["ts"] is not None else None,
                        r["n_files"],
                    )
                    for r in S.snapshot_history(path)
                ],
                "version long, parent long, op string, ts double, n_files long",
            )
        v = S.current_version(path) if pin is None else pin
        mf = S._read_manifest(Path(path), v)
        spec = mf.get("partitioning")
        bspec = mf.get("bucketing")
        return self.spark.createDataFrame(
            [(
                name, str(path), v,
                len(mf.get("files", [])),
                ",".join(spec["cols"]) if spec else None,
                json.dumps(bspec) if bspec else None,
                json.dumps(mf.get("types")) if mf.get("types") else None,
                json.dumps(mf.get("constraints"))
                if mf.get("constraints") else None,
                mf.get("schema") is not None,
                sum(int(dv[0]) for dv in (mf.get("dv") or {}).values()),
            )],
            "name string, location string, version long, n_files long, "
            "partitioning string, bucketing string, widened_types string, "
            "check_constraints string, column_mapping boolean, "
            "dv_deleted_rows long",
        )

    def _merge_keys_only(self, m: "re.Match"):
        """MERGE ... ON (k, ...) with no WHEN clause: a keyed upsert."""
        if m.group("name") not in self._tables:
            return NotImplemented
        path = self._writable(m.group("name"))
        src = m.group("src")
        self._refresh()
        df = self.spark.sql(self._pin_query(
            src[1:-1] if src.startswith("(") else f"SELECT * FROM {src}"
        ))
        S.snapshot_upsert(
            self.spark, df, path, [k.strip() for k in m.group("keys").split(",")],
            auto_evolve_schema=bool(m.group("evolve")),
        )
        return None

    # -- DML routes ----------------------------------------------------------
    def _delete(self, text: str, plan):
        name = self._registered(plan.table())
        if name is None:
            return NotImplemented
        if (_cls(plan.table()) == "SubqueryAlias"
                and plan.table().alias().upper() == "WHERE"):
            # `DELETE FROM t WHERE` with no condition: the parser takes
            # WHERE for the alias and hands back TRUE
            raise ValueError(
                f"DELETE FROM {name} WHERE: the WHERE clause has no condition"
            )
        path = self._writable(name)
        if not re.search(r"\bWHERE\b", text, re.IGNORECASE):
            # no WHERE clause (the parser's condition is a shared TRUE
            # literal, and so is WHERE true's: only the text tells them
            # apart). Every WHERE clause deletes by predicate
            S.snapshot_truncate(path)
            return None
        cond = plan.condition()
        between = _between(text, cond)
        if between:
            S.snapshot_delete_range_mor(self.spark, path, *between)
            return None
        # general predicates prune by the region the predicate implies
        # (`k = 5` still touches only overlapping files)
        cond, prune = self._dml_condition(text, cond)
        S.snapshot_delete_where(
            self.spark, path, cond, _prune_region=prune, table_alias=name,
        )
        return None

    def _update(self, text: str, plan):
        name = self._registered(plan.table())
        cond = _opt(plan.condition())
        if name is None or cond is None:
            return NotImplemented
        path = self._writable(name)
        sets = _assignments(text, plan.assignments())
        between = _between(text, cond)
        if between:
            S.snapshot_update_range_mor(self.spark, path, *between, sets)
            return None
        cond, prune = self._dml_condition(text, cond)
        S.snapshot_update_where(
            self.spark, path, cond, sets, _prune_region=prune,
            table_alias=name,
        )
        return None

    def _insert(self, text: str, plan):
        """INSERT INTO / INSERT OVERWRITE / INSERT INTO ... REPLACE WHERE."""
        name = self._registered(plan.table())
        if name is None:
            return NotImplemented
        if _cls(plan) == "OverwriteByExpression":  # REPLACE WHERE
            path = self._writable(name)
            df = self._values_named(self._fresh_sql(text, plan.query()), name)
            cond, _ = self._dml_condition(text, plan.deleteExpr())
            S.snapshot_replace_where(self.spark, path, cond, df)
            return None
        cols = _seq(plan.userSpecifiedCols())
        if (plan.partitionSpec().nonEmpty() or plan.byName()
                or (plan.overwrite() and cols)):
            return NotImplemented
        path = self._writable(name)
        df = self._fresh_sql(text, plan.query())
        if plan.overwrite():
            S.snapshot_replace_where(
                self.spark, path, None, self._values_named(df, name)
            )
            return None
        if cols:
            # explicit column list: the source maps to it by position;
            # unlisted columns stay absent from the written files (typed
            # NULLs / DEFAULTs / GENERATED expressions resolve them)
            if len(df.columns) != len(cols):
                raise ValueError(
                    f"INSERT INTO (cols): {len(cols)} columns listed "
                    f"but the source has {len(df.columns)}"
                )
            df = df.toDF(*[_ident(c, "INSERT INTO") for c in cols])
        else:
            df = self._values_named(df, name)
        S.snapshot_append(df, path)
        return None

    def _merge(self, text: str, plan):
        """MERGE: the keyed SET * / INSERT * form routes to
        :func:`snapshot_upsert`; every other arm list to
        :func:`snapshot_merge`. Aliases are ``t`` (target) and ``s``
        (source)."""
        target = plan.targetTable()
        name = self._registered(target)
        if name is None:
            return NotImplemented
        path = self._writable(name)
        source = plan.sourceTable()
        aliases = [
            n.alias().lower() if _cls(n) == "SubqueryAlias" else None
            for n in (target, source)
        ]
        if aliases[0] not in (None, "t") or aliases[1] not in (None, "s"):
            raise ValueError(
                "MERGE: alias the target as t and the source as s "
                "(conditions and assignments read t.<col> / s.<col>)"
            )
        if _cls(source) == "SubqueryAlias":
            source = source.child()
        df = self._fresh_sql(text, source)
        on = plan.mergeCondition()
        keys = _merge_keys(text, on)
        evolve = bool(plan.withSchemaEvolution())
        arms = [_seq(plan.matchedActions()), _seq(plan.notMatchedActions()),
                _seq(plan.notMatchedBySourceActions())]
        star = [[_cls(a) for a in arm] for arm in arms] == [
            ["UpdateStarAction"], ["InsertStarAction"], []
        ] and all(_opt(arm[0].condition()) is None for arm in arms[:2])
        if (star and aliases == [None, None]
                and _cls(on) in ("UnresolvedAttribute", "CreateNamedStruct")):
            S.snapshot_upsert(
                self.spark, df, path, keys, auto_evolve_schema=evolve
            )
            return None
        S.snapshot_merge(
            self.spark, df, path, keys, auto_evolve_schema=evolve,
            **self._merge_arms(text, name, df, evolve, *arms),
        )
        return None

    def _merge_arms(self, text: str, name: str, df: DataFrame, evolve: bool,
                    matched: list, not_matched: list, by_source: list) -> dict:
        """snapshot_merge's keyword arguments from the parsed WHEN arms.
        Duplicate arms refuse rather than silently dropping one."""
        kw: dict = {
            "matched_update": None,
            "matched_update_condition": None,
            "matched_delete": False,
            "matched_delete_condition": None,
            "not_matched_insert": False,
            "not_matched_condition": None,
            "not_matched_insert_values": None,
            "not_matched_by_source_delete": False,
            "not_matched_by_source_condition": None,
            "not_matched_by_source_update": None,
            "not_matched_by_source_update_condition": None,
        }

        def cond_of(a):
            c = _opt(a.condition())
            return _cut(text, c) if c is not None else None

        for a in matched:
            if _cls(a) == "DeleteAction":
                if kw["matched_delete"]:
                    raise ValueError("MERGE: duplicate WHEN MATCHED DELETE arm")
                kw["matched_delete"] = True
                kw["matched_delete_condition"] = cond_of(a)
                continue
            if kw["matched_update"] is not None:
                raise ValueError("MERGE: duplicate WHEN MATCHED UPDATE arm")
            if _cls(a) == "UpdateStarAction":
                cols = self.spark.sql(f"SELECT * FROM {name} LIMIT 0").columns
                if evolve:
                    # WITH SCHEMA EVOLUTION: SET * also assigns the
                    # source's NEW columns (they auto-add to the target
                    # inside snapshot_merge); target-only columns the
                    # source lacks carry unchanged
                    cols = [c for c in cols if c in set(df.columns)]
                    cols += [c for c in df.columns if c not in cols]
                kw["matched_update"] = {c: f"s.{c}" for c in cols}
            else:
                kw["matched_update"] = _assignments(text, a.assignments())
            kw["matched_update_condition"] = cond_of(a)
        for a in not_matched:
            if kw["not_matched_insert"]:
                raise ValueError("MERGE: duplicate WHEN NOT MATCHED arm")
            kw["not_matched_insert"] = True
            kw["not_matched_condition"] = cond_of(a)
            if _cls(a) == "InsertAction":
                kw["not_matched_insert_values"] = _assignments(
                    text, a.assignments()
                )
        for a in by_source:
            if _cls(a) == "DeleteAction":
                if kw["not_matched_by_source_delete"]:
                    raise ValueError(
                        "MERGE: duplicate WHEN NOT MATCHED BY SOURCE "
                        "DELETE arm"
                    )
                kw["not_matched_by_source_delete"] = True
                kw["not_matched_by_source_condition"] = cond_of(a)
                continue
            if kw["not_matched_by_source_update"] is not None:
                raise ValueError(
                    "MERGE: duplicate WHEN NOT MATCHED BY SOURCE UPDATE arm"
                )
            kw["not_matched_by_source_update"] = _assignments(
                text, a.assignments()
            )
            kw["not_matched_by_source_update_condition"] = cond_of(a)
        # Delta evaluates a WHEN MATCHED (or BY SOURCE) pair in WRITTEN
        # order; snapshot_merge's precedence is UPDATE-then-DELETE, so a
        # written DELETE-before-UPDATE guards the update arm with
        # NOT(delete condition) (NULL-safe: a NULL WHEN condition is
        # false). The parser already refused an unconditional first arm.
        for arms, dcond, ucond in (
            (matched, "matched_delete_condition",
             "matched_update_condition"),
            (by_source, "not_matched_by_source_condition",
             "not_matched_by_source_update_condition"),
        ):
            if len(arms) == 2 and _cls(arms[0]) == "DeleteAction":
                neg = f"NOT coalesce(({kw[dcond]}), false)"
                uc = kw[ucond]
                kw[ucond] = f"({neg}) AND ({uc})" if uc is not None else neg
        return kw

    def _dml_condition(self, text: str, cond):
        """Prepare a DML WHERE clause: plain predicates pass through as
        written (the engine extracts their conjunctive constraints for
        file pruning). A clause containing a subquery — ``k IN (SELECT
        ...)``, ``[NOT] EXISTS (...)``, the reference's staging-key delete
        shape as SQL — first re-points every registered view (the
        subquery must see CURRENT table state, and may time-travel), then
        rides the engine's evaluation unchanged: Spark plans the subquery
        as a semi/anti-join inside the row-match filter, so the
        delete/update stays fully distributed. For the uncorrelated
        whole-clause ``col IN (SELECT ...)`` form, the subquery's min/max
        additionally seed a stats-interval file prune — the text-
        constraint extractor is rightly blind to subqueries, but a
        key-set delete only ever touches files overlapping the keys'
        range. Returns ``(condition_text, prune_region_or_None)``."""
        if not cond.containsPattern(self._subquery_bit):
            return _cut(text, cond), None
        self._refresh()
        sql = self._pin_text(text, cond, _start(text, cond), _stop(text, cond))
        vals = _seq(cond.values()) if _cls(cond) == "InSubquery" else []
        if len(vals) != 1 or len(_parts(vals[0])) != 1:
            return sql, None
        from pyspark.sql import functions as F

        sub = self.spark.sql(self._query_sql(text, cond.query().plan()))
        scol = sub.columns[0]
        row = sub.agg(
            F.min(scol).alias("lo"), F.max(scol).alias("hi")
        ).first()
        if row.lo is None:  # empty/all-NULL key set: IN matches nothing
            return sql, None
        return sql, [{_parts(vals[0])[0]: (row.lo, row.hi)}]

    def _values_named(self, df: DataFrame, name: str):
        """SQL INSERT resolves source columns BY POSITION (shared by
        INSERT INTO / INSERT OVERWRITE / REPLACE WHERE): a full-width
        source takes the table's column names in order, whatever the
        SELECT called them — Spark/Delta INSERT semantics. A NARROWER
        source keeps its own names (prefix-positional renames would
        guess); its columns must then name real table columns (defaulted
        or nullable trailing columns fill on read/as NULL)."""
        cols = self.spark.sql(f"SELECT * FROM {name} LIMIT 0").columns
        if len(df.columns) == len(cols):
            return df.toDF(*cols)
        return df

    # -- DDL routes ----------------------------------------------------------
    def _create(self, text: str, plan, props: dict | None = None):
        """CREATE [OR REPLACE] TABLE ... USING snapshot: registration
        (no columns), empty-table DDL (columns) or CTAS (a query)."""
        spec = plan.tableSpec()
        if (_opt(spec.provider()) or "").lower() != "snapshot":
            return NotImplemented
        cls = _cls(plan)
        replace = cls.startswith("Replace")
        ctas = cls.endswith("AsSelect")
        name = _ident(".".join(_parts(plan.name())), "CREATE TABLE")
        path = _opt(spec.location())
        cols = [] if ctas else _seq(plan.columns())
        parts = _partition_cols(plan.partitioning())
        if props is None:
            props = {kv._1(): kv._2() for kv in _seq(spec.properties())}
        if (path is None or (replace and not plan.orCreate())
                or (not replace and plan.ignoreIfExists())
                or _opt(spec.comment()) or _opt(spec.serde())
                or spec.external() or _seq(spec.optionExpression().options())
                or ((ctas or not cols) and props) or (replace and cols)
                or (not ctas and not cols and parts)):
            raise ValueError(
                f"unsupported CREATE TABLE form for a snapshot table: "
                f"{text.strip()[:160]!r} — see the SnapshotCatalog "
                "docstring for the supported DDL surface"
            )
        if ctas:
            return self._ctas(text, plan, name, path, parts, replace)
        if not cols:  # register an existing table
            if name in self._tables and not replace:
                raise ValueError(
                    f"table {name!r} already registered "
                    "(use CREATE OR REPLACE TABLE)"
                )
            self.create_table(name, path)
            return None
        if name in self._tables:
            raise ValueError(f"table {name!r} already registered")
        specs = []
        for c in cols:
            ident = _opt(c.identityColumnSpec())
            if ident is not None and ident.isAllowExplicitInsert():
                raise ValueError(
                    f"column {c.name()!r}: GENERATED BY DEFAULT AS IDENTITY "
                    "is unsupported (use GENERATED ALWAYS AS IDENTITY)"
                )
            dflt = _opt(c.defaultValue())
            default, wdefault = None, None
            if dflt is not None:
                # expression DEFAULTs fold to a birth literal NOW, the raw
                # expression re-evaluates at each write; DEFAULT /
                # GENERATED / IDENTITY exclusion is validated once, in
                # snapshot_create_table
                default, wdefault = _fold_default(self.spark, dflt.originalSQL())
            specs.append((
                _ident(c.name(), "CREATE TABLE"), c.dataType().simpleString(),
                default, _opt(c.generationExpression()),
                {"start": ident.getStart(), "step": ident.getStep()}
                if ident is not None else None,
                not c.nullable(), _opt(c.comment()), wdefault,
            ))
        declared = {c[0].lower() for c in specs}
        unknown = [c for c in parts if c.lower() not in declared]
        if unknown:
            raise ValueError(
                f"PARTITIONED BY names undeclared column(s) {unknown}"
            )
        S.snapshot_create_table(path, specs)
        if parts:
            S.snapshot_set_partitioning(path, parts)
        # trailing TBLPROPERTIES (re-executable SHOW CREATE):
        # delta.constraints.* keys re-apply as CHECKs, the rest land as
        # table properties
        plain = {}
        for key, val in props.items():
            if key.startswith("delta.constraints."):
                S.snapshot_set_constraint(
                    self.spark, path, key[len("delta.constraints."):], val
                )
            else:
                plain[key] = val
        if plain:
            S.snapshot_set_properties(path, plain)
        self.create_table(name, path)
        return None

    def _ctas(self, text: str, plan, name: str, path: str, parts: list,
              replace: bool):
        """CTAS: materialize a query result as a NEW snapshot table and
        register it. The source query runs over fresh views (and may
        itself time-travel)."""
        if self._txn is not None:
            raise RuntimeError(
                "CTAS inside an open transaction is not supported "
                "(the new table's pointer would not exist until "
                "COMMIT); COMMIT first"
            )
        if name in self._tables and not replace:
            raise ValueError(
                f"table {name!r} already registered "
                "(use CREATE OR REPLACE TABLE)"
            )
        if (Path(path) / "_latest").exists() and not replace:
            raise ValueError(
                f"a snapshot table already exists at {path} "
                "(use CREATE OR REPLACE TABLE)"
            )
        S.snapshot_write(
            self._fresh_sql(text, plan.query()), path,
            partition_by=parts or None,
        )
        self.create_table(name, path)
        return None

    def _drop_table(self, text: str, plan):
        name = self._registered(plan.child())
        if name is None:
            return NotImplemented
        self.drop_table(name)
        return None

    def _create_view(self, text: str, plan):
        """Named views: the TEXT is stored and re-resolved against the
        tables' CURRENT versions on every query (a view over a snapshot
        table never goes stale); time-travel clauses inside pin as
        usual."""
        if (plan.allowExisting() or _seq(plan.userSpecifiedColumns())
                or _opt(plan.comment())):
            return NotImplemented
        name = _ident(".".join(_parts(plan.child())), "CREATE VIEW")
        if name in self._tables:
            raise ValueError(f"{name!r} is a registered TABLE")
        if name in self._views and not plan.replace():
            raise ValueError(
                f"view {name!r} already exists (use CREATE OR REPLACE VIEW)"
            )
        prior = self._views.get(name)
        self._views[name] = _opt(plan.originalText())
        try:
            self._refresh()  # materialize now — a bad query fails HERE
        except Exception:
            # a broken body must not poison later refreshes
            if prior is None:
                del self._views[name]
            else:
                self._views[name] = prior
            raise
        return None

    def _drop_view(self, text: str, plan):
        name = ".".join(_parts(plan.child()))
        if name not in self._views:
            if plan.ifExists():
                return None
            raise KeyError(f"no view named {name!r}")
        del self._views[name]
        self.spark.catalog.dropTempView(name)
        return None

    def _truncate(self, text: str, plan):
        """TRUNCATE TABLE: metadata-only delete-all; identity marks
        survive."""
        name = self._registered(plan.table())
        if name is None:
            return NotImplemented
        S.snapshot_truncate(self._writable(name))
        return None

    def _add_columns(self, text: str, plan):
        """ADD COLUMN[S]: the CREATE TABLE column clauses (DEFAULT incl.
        constant-foldable expressions, COMMENT, NOT NULL). Every refusal
        fires before any spec commits — a multi-column statement must
        not leave the table with half its columns."""
        name = self._registered(plan.table())
        if name is None:
            return NotImplemented
        path = self._writable(name)
        S.snapshot_enable_column_mapping(self.spark, path)  # idempotent
        sch = S._read_manifest(
            Path(path), S.current_version(path)
        ).get("schema") or {}
        live = {c["name"].lower() for c in sch.get("cols", [])}
        parsed = []
        for q in _seq(plan.columnsToAdd()):
            if _opt(q.path()) is not None or _opt(q.position()) is not None:
                return NotImplemented
            dflt = _opt(q.default())
            cm = {
                "name": _ident(q.colName(), "ADD COLUMN"),
                "dtype": q.dataType().simpleString(),
                "notnull": not q.nullable(),
                "default": dflt.originalSQL() if dflt is not None else None,
                "comment": _opt(q.comment()),
            }
            # NOT NULL needs a non-NULL DEFAULT: without one, every
            # pre-existing row reads NULL and violates immediately. The
            # DEFAULT folds HERE (stored on the spec), so a fold failure,
            # or an expression folding to NULL, refuses before any commit
            if cm["notnull"] and (
                cm["default"] is None
                or cm["default"].strip().lower() == "null"
            ):
                raise ValueError(
                    "ADD COLUMN ... NOT NULL requires a non-NULL DEFAULT: "
                    "every pre-existing row would read NULL and violate "
                    "the constraint immediately"
                )
            if cm["default"] is not None:
                cm["folded"] = _fold_default(self.spark, cm["default"])
                if cm["notnull"] and cm["folded"][0].strip().lower() == "null":
                    raise ValueError(
                        "ADD COLUMN ... NOT NULL requires a non-NULL "
                        "DEFAULT: the expression default "
                        f"{cm['default']!r} folds to NULL, so every "
                        "pre-existing row would violate immediately"
                    )
            key = cm["name"].lower()
            if key in live:
                raise ValueError(
                    f"ADD COLUMN: column {cm['name']!r} already exists"
                )
            live.add(key)  # catches duplicates WITHIN the statement
            parsed.append(cm)
        for cm in parsed:
            self._add_one_column(path, cm)
        return None

    def _add_one_column(self, path: str, cm: dict) -> None:
        """Apply one validated ADD COLUMN spec: the column itself (with
        its folded birth default), then the expression write default,
        the comment, and the NOT NULL constraint — each an O(metadata)
        commit."""
        default, wdefault = cm.get("folded") or (None, None)
        S.snapshot_add_column(
            path, cm["name"], cm["dtype"], default=default
        )
        if wdefault is not None:
            S.snapshot_set_column_default(path, cm["name"], wdefault)
        if cm["comment"] is not None:
            S.snapshot_set_column_comment(path, cm["name"], cm["comment"])
        if cm["notnull"]:
            # standing data validates against the just-added birth
            # default (non-NULL by the guard above), so this passes on
            # history and gates every later write
            S.snapshot_set_constraint(
                self.spark, path, f"__not_null_{cm['name']}",
                f"{cm['name']} IS NOT NULL",
            )

    def _rename_column(self, text: str, plan):
        name = self._registered(plan.table())
        if name is None:
            return NotImplemented
        path = self._writable(name)
        old = _column(plan.column(), "RENAME COLUMN")
        new = _ident(plan.newName(), "RENAME COLUMN")
        S.snapshot_enable_column_mapping(self.spark, path)  # idempotent
        S.snapshot_rename_column(path, old, new)
        return None

    def _drop_columns(self, text: str, plan):
        name = self._registered(plan.table())
        if name is None:
            return NotImplemented
        path = self._writable(name)
        cols = [_column(c, "DROP COLUMN") for c in _seq(plan.columnsToDrop())]
        S.snapshot_enable_column_mapping(self.spark, path)  # idempotent
        for col in cols:
            S.snapshot_drop_column(path, col)
        return None

    def _alter_column(self, text: str, plan):
        """ALTER COLUMN c: SET/DROP DEFAULT (the WRITE default; the birth
        default keeps resolving pre-existing files), SET/DROP NOT NULL (a
        reserved-name CHECK; SET validates standing data first), COMMENT,
        or TYPE <wider> (O(1) metadata widening)."""
        name = self._registered(plan.table())
        specs = _seq(plan.specs())
        if name is None or len(specs) != 1:
            return NotImplemented
        spec = specs[0]
        col = _column(spec.column(), "ALTER COLUMN")
        dtype, nullable, comment, dflt = (
            _opt(spec.newDataType()), _opt(spec.newNullability()),
            _opt(spec.newComment()), _opt(spec.newDefaultExpression()),
        )
        if _opt(spec.newPosition()) is not None or (
            dtype is not None and "(" in dtype.simpleString()
        ):
            return NotImplemented
        path = self._writable(name)
        if dtype is not None:
            S.snapshot_widen_column(self.spark, path, col, dtype.simpleString())
        elif nullable is not None:
            if nullable:
                S.snapshot_drop_constraint(path, f"__not_null_{col}")
            else:
                S.snapshot_set_constraint(
                    self.spark, path, f"__not_null_{col}",
                    f"{col} IS NOT NULL",
                )
        elif comment is not None:
            S.snapshot_enable_column_mapping(self.spark, path)  # idempotent
            S.snapshot_set_column_comment(path, col, comment)
        else:
            S.snapshot_enable_column_mapping(self.spark, path)  # idempotent
            default = dflt.originalSQL() if dflt is not None else None
            if default is not None:
                # the write default stores the RAW expression (literal or
                # constant-foldable; re-evaluated per write batch) —
                # folding here only validates it is row-free
                _fold_default(self.spark, default)
            S.snapshot_set_column_default(path, col, default)
        return None

    def _add_constraint(self, text: str, plan):
        check = plan.checkConstraint()
        name = check.tableName()
        if name not in self._tables:
            return NotImplemented
        S.snapshot_set_constraint(
            self.spark, self._writable(name),
            _ident(check.userProvidedName() or "", "ADD CONSTRAINT"),
            check.condition(),
        )
        return None

    def _drop_constraint(self, text: str, plan):
        name = self._registered(plan.table())
        if name is None:
            return NotImplemented
        S.snapshot_drop_constraint(self._writable(name), plan.name())
        return None

    # -- read-only routes ----------------------------------------------------
    def _manifest(self, name: str) -> tuple:
        """(path, version, manifest) a registered name reads as."""
        path, pin = self._tables[name]
        v = pin if pin is not None else S.current_version(path)
        return path, v, S._read_manifest(Path(path), v)

    def _show_properties(self, text: str, plan):
        name = self._registered(plan.table())
        if name is None or _opt(plan.propertyKey()) is not None:
            return NotImplemented
        props = self._manifest(name)[2].get("properties") or {}
        return self.spark.createDataFrame(
            [(k, props[k]) for k in sorted(props)] or [],
            "key string, value string",
        )

    def _show_partitions(self, text: str, plan):
        """SHOW PARTITIONS: live partition value tuples — a distributed
        DISTINCT over the spec columns only (column-pruned scan;
        post-evolution files resolve it from their point stats)."""
        name = self._registered(plan.table())
        if name is None or _opt(plan.pattern()) is not None:
            return NotImplemented
        spec = self._manifest(name)[2].get("partitioning") or {}
        cols = list(spec.get("cols") or [])
        if not cols:
            raise ValueError(
                f"SHOW PARTITIONS: table {name!r} is not partitioned"
            )
        self._refresh()
        return self.spark.sql(
            f"SELECT DISTINCT {', '.join(cols)} FROM {name} "
            f"ORDER BY {', '.join(cols)}"
        )

    def _schema_rows(self, name: str) -> tuple:
        """(path, manifest, read-schema fields, {col: schema meta}, NOT
        NULL columns) of a registered name."""
        path, v, man = self._manifest(name)
        fields = S.snapshot_read(self.spark, path, version=v).schema.fields
        meta = {
            c["name"]: c for c in (man.get("schema") or {}).get("cols", [])
        }
        nn = {
            cn[len("__not_null_"):]
            for cn in (man.get("constraints") or {})
            if cn.startswith("__not_null_")
        }
        return path, man, fields, meta, nn

    def _describe_table(self, text: str, plan):
        """DESCRIBE [TABLE] t: per-column name/type plus the DEFAULT /
        GENERATED / IDENTITY decoration — the schema view DESCRIBE DETAIL
        (manifest facts) and SHOW CREATE TABLE (round-trippable DDL)
        don't cover."""
        name = self._registered(plan.child())
        if name is None or plan.isExtended() or not plan.partitionSpec().isEmpty():
            return NotImplemented
        _, _, fields, meta, nn = self._schema_rows(name)
        rows = []
        for f in fields:
            c = meta.get(f.name, {})
            if c.get("identity"):
                info = (
                    "GENERATED ALWAYS AS IDENTITY (START WITH "
                    f"{c['identity']['start']} INCREMENT BY "
                    f"{c['identity']['step']})"
                )
            elif c.get("generated") is not None:
                info = f"GENERATED ALWAYS AS ({c['generated']})"
            else:
                d = _write_default(c)
                info = f"DEFAULT {d}" if d is not None else None
            if f.name in nn:
                info = f"NOT NULL {info}" if info else "NOT NULL"
            rows.append((
                f.name, f.dataType.simpleString(), info, c.get("comment"),
            ))
        return self.spark.createDataFrame(
            rows,
            "col_name string, data_type string, info string, "
            "comment string",
        )

    def _show_create(self, text: str, plan):
        """SHOW CREATE TABLE: reconstructed DDL — columns at the read
        schema, partition/bucket specs, constraints, properties."""
        name = self._registered(plan.child())
        if name is None or plan.asSerde():
            return NotImplemented
        path, man, fields, meta, nn = self._schema_rows(name)

        def column(f) -> str:
            c = meta.get(f.name, {})
            d, ident = _write_default(c), c.get("identity")
            return (
                f"  {f.name} {f.dataType.simpleString().upper()}"
                + (" NOT NULL" if f.name in nn else "")
                + (f" DEFAULT {d}" if d is not None else "")
                + (f" GENERATED ALWAYS AS ({c['generated']})"
                   if c.get("generated") is not None else "")
                + (
                    " GENERATED ALWAYS AS IDENTITY (START WITH "
                    f"{ident['start']} INCREMENT BY {ident['step']})"
                    if ident is not None else ""
                )
                + (
                    " COMMENT '{}'".format(c["comment"].replace("'", "''"))
                    if c.get("comment") is not None else ""
                )
            )

        lines = [f"CREATE TABLE {name} (", ",\n".join(map(column, fields)),
                 ") USING snapshot"]
        spec = (man.get("partitioning") or {}).get("cols")
        if spec:
            lines.append(f"PARTITIONED BY ({', '.join(spec)})")
        b = man.get("bucketing")
        if b:
            lines.append(f"CLUSTERED BY ({b['col']}) INTO {b['n']} BUCKETS")
        lines.append(f"LOCATION '{path}'")
        cons = man.get("constraints") or {}
        user_props = man.get("properties") or {}
        props = [
            "  'delta.constraints.{}' = '{}'".format(
                cn, cons[cn].replace("'", "''")
            )
            for cn in sorted(cons)
            if not cn.startswith("__not_null_")  # rendered inline
        ] + [
            "  '{}' = '{}'".format(
                k.replace("'", "''"), user_props[k].replace("'", "''")
            )
            for k in sorted(user_props)
        ]
        if props:
            lines.append("TBLPROPERTIES (\n" + ",\n".join(props) + "\n)")
        return self.spark.createDataFrame(
            [("\n".join(lines),)], "createtab_stmt string"
        )

    def _show_tables(self, text: str, plan):
        """SHOW TABLES / SHOW VIEWS: the catalog's registrations."""
        if _cls(plan.namespace()) != "CurrentNamespace$" or _opt(
            plan.pattern()
        ) is not None:
            return NotImplemented
        if _cls(plan) == "ShowTables":
            rows = [
                (name, str(path), version,
                 S.current_version(path) if version is None else version)
                for name, (path, version) in sorted(self._tables.items())
            ]
            return self.spark.createDataFrame(
                rows or [],
                "name string, location string, pinned_version long, "
                "current_version long",
            )
        return self.spark.createDataFrame(
            sorted(self._views.items()) or [],
            "name string, definition string",
        )

    def read_stream(self, name: str, starting_version: int = 0,
                    change_feed: bool = False) -> DataFrame:
        """Streaming DataFrame over a registered snapshot table (the
        version-offset source: each micro-batch is the files added in a
        version window, offsets checkpointed by Structured Streaming).
        ``change_feed=True`` streams net row-level changes instead
        (insert/delete records + _change_type/_commit_version — Delta's
        readChangeFeed form). A version-pinned registration has no
        stream — it is one frozen snapshot."""
        path, version = self._tables[name]
        if version is not None:
            raise ValueError(
                f"table {name!r} is pinned to VERSION AS OF {version} — "
                "a time-travel registration has no change stream"
            )
        # registering the Python source starts Spark's data-source
        # lookup worker, so only a stream pays for it (registering again
        # replaces the entry)
        from .snapshot_datasource import SnapshotDataSource

        self.spark.dataSource.register(SnapshotDataSource)
        reader = (
            self.spark.readStream.format("snapshot")
            .option("path", path)
            .option("startingVersion", str(starting_version))
        )
        if change_feed:
            reader = reader.option("readChangeFeed", "true")
        return reader.load()

    def _writable(self, name: str) -> str:
        path, version = self._tables[name]
        if version is not None:
            raise ValueError(
                f"table {name!r} is pinned to VERSION AS OF {version} — "
                "a time-travel registration is read-only"
            )
        return path

    def _refresh(self) -> None:
        """Re-point every registered snapshot view at its table's
        current (or txn-staged) version, then re-materialize named views
        in creation order (so views may reference earlier views)."""
        for name in self._tables:
            self._register(name)
        for vname, q in self._views.items():
            self.spark.sql(
                f"CREATE OR REPLACE TEMPORARY VIEW {vname} AS "
                f"{self._pin_query(q)}"
            )

    def _register(self, name: str) -> None:
        path, version = self._tables[name]
        if version is None and self._txn is not None:
            # open transaction: pin the view at this session's STAGED
            # version (read-your-own-writes — the staged manifest is
            # published, only the pointer hasn't moved), falling back to
            # the public tip for tables the transaction hasn't touched
            staged = self._txn._staged_version(path)
            if staged is not None:
                version = staged
        # The view reads snapshot_read at the version resolved here, so
        # its pin is (path, that version, that manifest's identity) by
        # construction. Skipping the re-plan when the pin did not move
        # makes _refresh O(changed tables), not one planned read (a
        # manifest resolve and a footer) per registered table per
        # statement. The identity is the manifest's commit stamp: a table
        # dropped and recreated at the same path can reach the same
        # version number, and must not keep serving the old table's view.
        v = S.current_version(path) if version is None else version
        try:
            ts = json.loads(S._manifest_path(path, v).read_text()).get("ts")
        except FileNotFoundError:
            ts = None  # snapshot_read fails loudly on a missing version
        pin = (str(path), v, ts)
        if (
            self._pinned.get(name) == pin
            and self.spark.catalog.tableExists(name)
        ):
            return
        S.snapshot_read(self.spark, path, version=v) \
            .createOrReplaceTempView(name)
        self._pinned[name] = pin


def _write_default(c: dict):
    """A column's CURRENT write default: ALTER COLUMN SET DEFAULT wins
    over the birth default; the DROP DEFAULT sentinel hides it."""
    wd = c.get("wdefault")
    if wd is not None:
        return wd if wd != "NULL" else None
    return c.get("default")
