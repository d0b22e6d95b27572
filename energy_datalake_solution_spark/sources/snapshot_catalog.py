"""SQL catalog surface over snapshot tables: CREATE TABLE ... USING
snapshot, then plain ``spark.sql`` text — the layer that lets the
reference's ``.sql`` files (athena_queries/*.sql analogs, re-targeted in
sql_queries/) run VERBATIM against snapshot-backed curated tables.

Why not Spark's own ``CREATE TABLE ... USING snapshot``? The statement
parses and resolves the schema through the registered Python DataSource,
but in this Spark build the catalog does not propagate the table's
options to the SCAN-side DataSource instance (reader() sees an empty
options dict), so the first SELECT fails. This module provides the same
contract one level up:

  * ``SnapshotCatalog.sql(text)`` accepts the DDL forms
        CREATE [OR REPLACE] TABLE <name> USING snapshot
            (OPTIONS (path '<p>') | LOCATION '<p>') [VERSION AS OF <n>]
        CREATE [OR REPLACE] TABLE <name> USING snapshot LOCATION '<p>'
            AS <select>                           (CTAS — materialize +
            register; the source query may itself time-travel)
        CREATE TABLE <name> (c type [DEFAULT lit-or-foldable-expr
              (infix expressions parse unparenthesized: DEFAULT 1 + 2)
            | GENERATED ALWAYS AS (expr)
            | GENERATED ALWAYS AS IDENTITY
              [(START WITH s INCREMENT BY k)]]
            [NOT NULL] [COMMENT 'txt'], ...) USING snapshot
            [PARTITIONED BY (c, ...)] LOCATION '<p>'
            [PARTITIONED BY (c, ...)]
            (CTAS accepts PARTITIONED BY in both positions too —
            the result lands one file set per partition value)
            (clauses in any order; empty-table DDL: v1 schema-only manifest,
            column mapping from birth; reads return a typed empty frame;
            generated columns compute on write when omitted and are
            validated when supplied — partition BY one for the
            date-partition-from-timestamp pattern)
        ALTER TABLE <name> ADD COLUMN c type DEFAULT <literal>
            (Iceberg-style initial+write-default: files lacking the
            column — pre-add files, later narrow writes — read the
            default, not NULL; stored values incl. explicit NULLs win)
        DROP TABLE [IF EXISTS] <name>
        CREATE [OR REPLACE] VIEW <name> AS <query> (text stored; resolved
            against CURRENT table versions per query — never stale)
        DROP VIEW [IF EXISTS] <name>
    the DML/maintenance subset (each routed to the corresponding
    TRANSACTIONAL library operation — stats-pruned, DV-based,
    optimistic-concurrency commits, not a new engine):
        INSERT INTO <name> [(col, ...)] <select|values>
                                                  -> snapshot_append
            (a full-width source maps by position; an explicit column
            list maps to those columns, unlisted ones resolve by
            DEFAULT / GENERATED / typed NULL on read)
        MERGE INTO <name> USING <src> ON (k, ...) -> snapshot_upsert
        MERGE INTO ... WHEN MATCHED [AND c] THEN UPDATE SET ../DELETE
            [WHEN NOT MATCHED [AND c] THEN INSERT *
                | INSERT (cols) VALUES (exprs)]
            [WHEN NOT MATCHED BY SOURCE [AND c] THEN DELETE | UPDATE SET]
            (WHEN MATCHED / BY SOURCE clause pairs evaluate in WRITTEN
            order, Delta semantics)           -> snapshot_merge
        MERGE WITH SCHEMA EVOLUTION INTO ...      (either MERGE form:
            source columns absent from the target auto-add as metadata
            before merging; old files read them as typed NULLs)
        DELETE FROM <name> WHERE c BETWEEN a AND b-> snapshot_delete_range_mor
        DELETE FROM <name> WHERE <any predicate>  -> snapshot_delete_where
        UPDATE <name> SET c=e,... WHERE k BETWEEN -> snapshot_update_range_mor
        UPDATE <name> SET c=e,... WHERE <any pred>-> snapshot_update_where
        COPY INTO <name> FROM '<dir|glob>' FILEFORMAT = <fmt>
            [FORMAT_OPTIONS (k = 'v', ...)]      -> snapshot_copy_into
            (file-granular idempotent load: reruns skip files already
            ingested — the ledger commits atomically with the rows)
        RESTORE TABLE <name> VERSION/TIMESTAMP AS OF -> snapshot_restore
        VACUUM <name> [RETAIN n VERSIONS] [DRY RUN] -> snapshot_vacuum
            (DRY RUN returns the would-delete file list, touches nothing)
        SELECT ... FROM table_changes('<name>', v1[, v2]) ...
            -> snapshot_change_feed (batch CDF: net row changes with
            _change_type, reading only the files that changed)
        ANALYZE TABLE <name> COMPUTE STATISTICS FOR COLUMNS (a, b)
        ANALYZE TABLE <name> COMPUTE BLOOM FILTERS FOR COLUMNS (a, b)
            -> snapshot_analyze (metadata-only stats backfill: retrofits
            file pruning onto stats-less tables — CTAS results,
            DataSource writes, inherited lakes)
        SHOW TABLES / SHOW VIEWS                  (registrations + views)
        CREATE TABLE <name> SHALLOW CLONE <src>
            [VERSION/TIMESTAMP AS OF ...] LOCATION '<p>' -> snapshot_clone
            (zero-copy: the clone's manifest references the source
            version's files by absolute path; DVs/stats re-key)
        SHOW PARTITIONS <name>       (live partition value tuples of the
            manifest's spec — a column-pruned distributed DISTINCT)
        SHOW CREATE TABLE <name>     (reconstructed DDL: columns at the
            read schema, partition/bucket specs, constraints)
        DESCRIBE HISTORY <name>                   -> snapshot_history
        DESCRIBE DETAIL <name>  (version, files, partitioning, bucketing,
            widened types, constraints, column mapping — manifest-only)
        OPTIMIZE <name> [WHERE <pred>] [ZORDER BY (a, b[, c...])]
            [INTO n FILES]
            -> snapshot_compact / snapshot_compact_where (predicate-
            scoped: only stats-overlapping files rewrite — compact one
            hot partition of a 100 TB table without touching the rest)
            / snapshot_zorder_compact_n (any number of z columns); all
            three share one conflict-safe rewrite loop
        REORG TABLE <name> APPLY (PURGE)          -> snapshot_purge_dv
            (rewrite ONLY deletion-vector-carrying files — O(dv'd
            files); clean files stay byte-identical)
        ALTER TABLE <name> SET PARTITIONED BY (c, ...) -> snapshot_set_partitioning
        ALTER TABLE <name> CLEAR PARTITIONING     -> snapshot_set_partitioning
        ALTER TABLE <name> ADD CONSTRAINT n CHECK (e)
                                                  -> snapshot_set_constraint
        ALTER TABLE <name> DROP CONSTRAINT n      -> snapshot_drop_constraint
        ALTER TABLE <name> ADD COLUMN[S] [(]spec[, spec...][)]
                                                  -> snapshot_add_column
            (spec = full CREATE TABLE column grammar: DEFAULT incl.
            constant-foldable expressions, COMMENT, NOT NULL — the
            latter only WITH a DEFAULT; GENERATED/IDENTITY refuse)
        ALTER TABLE <name> RENAME COLUMN a TO b   -> snapshot_rename_column
        ALTER TABLE <name> DROP COLUMN c          -> snapshot_drop_column
        ALTER TABLE <name> ALTER COLUMN c SET DEFAULT lit | DROP DEFAULT
            -> snapshot_set_column_default (changes the WRITE default;
            the birth default keeps resolving pre-existing files)
        ALTER TABLE <name> ALTER COLUMN c SET NOT NULL | DROP NOT NULL
            (a reserved-name CHECK; SET validates standing data first;
            NOT NULL also parses inline in CREATE TABLE column specs)
        ALTER TABLE <name> ALTER COLUMN c COMMENT 'txt'
        ALTER TABLE <name> ALTER COLUMN c TYPE <wider>
            -> snapshot_widen_column (O(1) metadata type widening;
            narrowing / cross-chain refuses)
            (COMMENT also parses inline in CREATE TABLE column specs;
            DESCRIBE TABLE / SHOW CREATE TABLE surface it)
        ALTER TABLE <name> SET TBLPROPERTIES ('k' = 'v', ...)
            | UNSET TBLPROPERTIES [IF EXISTS] ('k', ...)
        SHOW TBLPROPERTIES <name>     (user key-value metadata — carried
            by every commit, inherited by clones, reverted by RESTORE)
        ALTER TABLE <name> SYNC IDENTITY -> snapshot_sync_identity
            (recompute identity high-water marks from stored values)
        TRUNCATE TABLE <name> / DELETE FROM <name> -> snapshot_truncate
            (metadata-only delete-all; identity marks survive)
        DESCRIBE [TABLE] <name>  (per-column name/type plus DEFAULT /
            GENERATED / IDENTITY decoration)
            (each an O(columns) metadata commit — column mapping
            auto-enables; old files read unchanged, dropped ids retire,
            re-added names cannot resurrect old bytes)
        BEGIN / COMMIT / ROLLBACK [TRANSACTION]   -> SnapshotTransaction
            (multi-statement, multi-TABLE all-or-nothing: writes between
            BEGIN and COMMIT stage without moving any pointer; SELECTs
            in between read this session's OWN staged versions)
    and passes every other statement to ``spark.sql`` after re-pointing
    the registered snapshot views at their tables' CURRENT versions.
    SELECT-level time travel works in any plain statement (and in
    INSERT/MERGE source sub-queries):
        SELECT ... FROM <name> VERSION AS OF <n> ...
        SELECT ... FROM <name> TIMESTAMP AS OF '<iso>' ...
    — each reference rewrites to a version-pinned temp view resolved
    from ONE manifest, so the result stays frozen across later commits.
  * Registration materializes a temp view over
    ``spark.read.format("snapshot")`` — the DataSource plans one
    InputPartition per data file from ONE resolved manifest, so each
    query reads a consistent snapshot; re-registration per ``sql()``
    call is O(manifest metadata) and gives catalog-table freshness
    (a view pinned at CREATE time would go stale after appends).

At 100 TB the per-query cost is the manifest resolution (O(change)
amortized through the delta-manifest cache) — never a file listing.

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

from pyspark.sql import DataFrame, SparkSession

_CREATE_RE = re.compile(
    r"^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?TABLE\s+(?P<name>[A-Za-z_][\w]*)\s+"
    r"USING\s+snapshot\s+"
    r"(?:OPTIONS\s*\(\s*path\s+'(?P<opath>[^']+)'\s*\)|LOCATION\s+'(?P<lpath>[^']+)')"
    r"(?:\s+VERSION\s+AS\s+OF\s+(?P<version>\d+))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# CTAS: materialize a query result as a NEW snapshot table and register
# it. The source query runs over fresh views (and may itself time-travel).
_CTAS_RE = re.compile(
    r"^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?TABLE\s+(?P<name>[A-Za-z_][\w]*)\s+"
    r"USING\s+snapshot\s+"
    # PARTITIONED BY accepted on either side of the location, like the
    # empty-table DDL grammar
    r"(?:PARTITIONED\s+BY\s*\(\s*"
    r"(?P<part1>[A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*\)\s+)?"
    r"(?:OPTIONS\s*\(\s*path\s+'(?P<opath>[^']+)'\s*\)|LOCATION\s+'(?P<lpath>[^']+)')"
    r"(?:\s+PARTITIONED\s+BY\s*\(\s*"
    r"(?P<part2>[A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*\))?"
    r"\s+AS\s+(?P<query>(?:SELECT|WITH|VALUES|TABLE)\b.+)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_RE = re.compile(
    r"^\s*DROP\s+TABLE\s+(?P<ifex>IF\s+EXISTS\s+)?(?P<name>[A-Za-z_][\w]*)\s*;?\s*$",
    re.IGNORECASE,
)
# Empty-table DDL: CREATE TABLE t (c type [DEFAULT lit], ...) USING
# snapshot LOCATION — commits a v1 schema-only manifest (zero files,
# column mapping from birth) and registers the name.
_CREATE_EMPTY_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<name>[A-Za-z_]\w*)\s*"
    r"\((?P<cols>.+)\)\s*"
    r"USING\s+snapshot"
    # Spark puts PARTITIONED BY between USING and LOCATION; accept it
    # after the location too (both orders seen in the wild)
    r"(?:\s+PARTITIONED\s+BY\s*\(\s*"
    r"(?P<part1>[A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*\))?"
    r"\s+(?:OPTIONS\s*\(\s*path\s+'(?P<opath>[^']+)'\s*\)|LOCATION\s+'(?P<lpath>[^']+)')"
    r"(?:\s+PARTITIONED\s+BY\s*\(\s*"
    r"(?P<part2>[A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*\))?"
    # trailing TBLPROPERTIES: makes SHOW CREATE TABLE's output
    # re-executable (constraints render as delta.constraints.* keys and
    # re-apply as CHECKs; other keys land as table properties)
    r"(?:\s+TBLPROPERTIES\s*\((?P<props>.+?)\))?"
    r"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# Column spec grammar: `name dtype` followed by column clauses in ANY
# order (Spark/Delta DDL does not fix clause order — `c bigint DEFAULT 1
# NOT NULL` and `c bigint NOT NULL DEFAULT 1` are both valid), each
# clause at most once, DEFAULT / GENERATED ALWAYS AS / IDENTITY mutually
# exclusive (checked downstream). Parsed by _parse_col_spec, not one
# fixed-order regex.
_COL_HEAD_RE = re.compile(
    r"^\s*(?P<name>[A-Za-z_]\w*)\s+"
    r"(?P<dtype>[A-Za-z_]\w*(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)",
    re.IGNORECASE,
)
_CL_NOT_NULL_RE = re.compile(r"NOT\s+NULL\b", re.IGNORECASE)
_CL_COMMENT_RE = re.compile(
    r"COMMENT\s+'(?P<c>(?:[^']|'')*)'", re.IGNORECASE
)
_CL_IDENTITY_RE = re.compile(
    r"GENERATED\s+ALWAYS\s+AS\s+IDENTITY"
    r"(?:\s*\(\s*START\s+WITH\s+(?P<start>-?\d+)\s+"
    r"INCREMENT\s+BY\s+(?P<step>-?\d+)\s*\))?",
    re.IGNORECASE,
)
_CL_GENERATED_RE = re.compile(
    r"GENERATED\s+ALWAYS\s+AS\s*\(", re.IGNORECASE
)
_CL_DEFAULT_RE = re.compile(r"DEFAULT\s+", re.IGNORECASE)


def _scan_balanced(s: str, i: int) -> int:
    """Index just past the ``)`` closing the ``(`` at ``s[i]`` —
    quote-aware ('' escapes inside string literals), so parens inside
    literals never count."""
    depth, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if s[j] == "'":
                    if j + 1 < n and s[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            i = j
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise ValueError(f"unbalanced parentheses in {s!r}")


def _scan_default_value(s: str, i: int) -> int:
    """End index of a DEFAULT value starting at ``s[i]``: a quoted
    string, or a token run with balanced parens (so expression defaults
    like ``current_date()`` or ``date_add(current_date(), 7)`` parse),
    ending at top-level whitespace — UNLESS the next token is an infix
    operator (``DEFAULT 1 + 2``, ``DEFAULT 'a' || 'b'``), which
    continues the expression; clause keywords are alphabetic and never
    match, so ``DEFAULT 1 NOT NULL`` still splits correctly."""
    n = len(s)

    def _one(j: int) -> int:
        # one operand: quoted string, or token run with balanced parens
        if j < n and s[j] == "'":
            k = j + 1
            while k < n:
                if s[k] == "'":
                    if k + 1 < n and s[k + 1] == "'":
                        k += 2
                        continue
                    return k + 1
                k += 1
            raise ValueError(f"unterminated string literal in {s!r}")
        while j < n and not s[j].isspace():
            if s[j] == "(":
                j = _scan_balanced(s, j)
            elif s[j] == "'":
                return _one(j)
            else:
                j += 1
        return j

    ops = "+-*/%|&^<>="
    j = _one(i)
    while True:
        k = j
        while k < n and s[k].isspace():
            k += 1
        if k < n and s[k] in ops:
            # operator BEGINS the next token: `1 + 2`, `1 +2`
            while k < n and s[k] in ops:
                k += 1
            while k < n and s[k].isspace():
                k += 1
            j = _one(k)
        elif j > i and s[j - 1] in ops and k < n:
            # operator ENDED the previous token: `1+ 2` — the operand
            # after the space continues the expression
            j = _one(k)
        else:
            return j


def _parse_col_spec(spec: str) -> dict | None:
    """One CREATE TABLE column spec -> {name, dtype, notnull, default,
    identity, generated, comment}, clauses accepted in any order, each
    at most once. None = unparseable (caller raises with the spec)."""
    m = _COL_HEAD_RE.match(spec)
    if not m:
        return None
    out = {
        "name": m.group("name"), "dtype": m.group("dtype"),
        "notnull": False, "default": None, "identity": None,
        "generated": None, "comment": None,
    }
    s, i, n = spec, m.end(), len(spec)
    while True:
        while i < n and s[i].isspace():
            i += 1
        if i >= n:
            return out
        mm = _CL_NOT_NULL_RE.match(s, i)
        if mm:
            if out["notnull"]:
                return None
            out["notnull"] = True
            i = mm.end()
            continue
        mm = _CL_IDENTITY_RE.match(s, i)  # before _CL_GENERATED_RE:
        if mm:                            # IDENTITY is the longer match
            if out["identity"] is not None:
                return None
            out["identity"] = {
                "start": int(mm.group("start") or 1),
                "step": int(mm.group("step") or 1),
            }
            i = mm.end()
            continue
        mm = _CL_GENERATED_RE.match(s, i)
        if mm:
            if out["generated"] is not None:
                return None
            end = _scan_balanced(s, mm.end() - 1)
            out["generated"] = s[mm.end():end - 1].strip()
            i = end
            continue
        mm = _CL_COMMENT_RE.match(s, i)
        if mm:
            if out["comment"] is not None:
                return None
            out["comment"] = mm.group("c")
            i = mm.end()
            continue
        mm = _CL_DEFAULT_RE.match(s, i)
        if mm:
            if out["default"] is not None:
                return None
            j = _scan_default_value(s, mm.end())
            if j == mm.end():
                return None
            out["default"] = s[mm.end():j]
            i = j
            continue
        return None


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
# SHALLOW CLONE (Delta's CREATE TABLE ... SHALLOW CLONE): a new table
# whose first manifest references the source version's files by absolute
# path — zero data copied (snapshot_clone; DVs/stats re-key correctly).
_CLONE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<name>[A-Za-z_]\w*)\s+SHALLOW\s+CLONE\s+"
    r"(?P<src>[A-Za-z_]\w*)"
    r"(?:\s+VERSION\s+AS\s+OF\s+(?P<version>\d+)"
    r"|\s+TIMESTAMP\s+AS\s+OF\s+(?P<ts>'[^']+'))?"
    r"\s+LOCATION\s+'(?P<path>[^']+)'\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_PARTS_RE = re.compile(
    r"^\s*SHOW\s+PARTITIONS\s+(?P<name>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_CREATE_RE = re.compile(
    r"^\s*SHOW\s+CREATE\s+TABLE\s+(?P<name>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
# Named views: the TEXT is stored and re-resolved against the tables'
# CURRENT versions on every query (a view over a snapshot table never
# goes stale); time-travel clauses inside the text pin as usual.
_CREATE_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?VIEW\s+(?P<name>[A-Za-z_]\w*)"
    r"\s+AS\s+(?P<query>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_VIEW_RE = re.compile(
    r"^\s*DROP\s+VIEW\s+(?P<ifex>IF\s+EXISTS\s+)?(?P<name>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
# --- DML over snapshot tables (the documented subset; each form routes
# to the corresponding transactional library operation) -------------------
_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<name>[A-Za-z_]\w*)\s*"
    r"(?:\((?P<cols>[A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\)\s*)?"
    r"(?P<query>(?:SELECT|VALUES|WITH|TABLE)\b.*)$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_OVERWRITE_RE = re.compile(
    r"^\s*INSERT\s+OVERWRITE\s+(?:TABLE\s+)?(?P<name>[A-Za-z_]\w*)\s+"
    r"(?P<query>(?:SELECT|VALUES|WITH|TABLE)\b.*)$",
    re.IGNORECASE | re.DOTALL,
)
_REPLACE_WHERE_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<name>[A-Za-z_]\w*)\s+REPLACE\s+WHERE\s+"
    r"(?P<cond>.+?)\s+(?P<query>(?:SELECT|VALUES|WITH|TABLE)\b.*)$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<name>[A-Za-z_]\w*)\s+WHERE\s+"
    r"(?P<col>[A-Za-z_]\w*)\s+BETWEEN\s+(?P<lo>'[^']*'|\S+)\s+AND\s+"
    r"(?P<hi>'[^']*'|\S+?)\s*;?\s*$",
    re.IGNORECASE,
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(?P<name>[A-Za-z_]\w*)\s+SET\s+(?P<sets>.+?)\s+WHERE\s+"
    r"(?P<col>[A-Za-z_]\w*)\s+BETWEEN\s+(?P<lo>'[^']*'|\S+)\s+AND\s+"
    r"(?P<hi>'[^']*'|\S+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_RE = re.compile(
    r"^\s*MERGE\s+(?P<evolve>WITH\s+SCHEMA\s+EVOLUTION\s+)?"
    r"INTO\s+(?P<name>[A-Za-z_]\w*)\s+USING\s+"
    r"(?P<src>[A-Za-z_]\w*|\(.+\))\s+ON\s+\(?\s*"
    r"(?P<keys>[A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*\)?\s*"
    r"(?:WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+\*\s+"
    r"WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*\s*)?;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# Conditional MERGE (Delta's WHEN-clause form). The simple
# UPDATE SET * / INSERT * statement matches _MERGE_RE above and routes to
# snapshot_upsert; everything with AND-conditions, a DELETE arm, or
# explicit SET assignments parses here and routes to snapshot_merge.
_MERGE_COND_RE = re.compile(
    r"^\s*MERGE\s+(?P<evolve>WITH\s+SCHEMA\s+EVOLUTION\s+)?"
    r"INTO\s+(?P<name>[A-Za-z_]\w*)(?:\s+(?:AS\s+)?t)?\s+USING\s+"
    r"(?P<src>[A-Za-z_]\w*|\(.+?\))(?:\s+(?:AS\s+)?s)?\s+ON\s+(?P<on>.+?)\s+"
    r"(?P<clauses>WHEN\s+(?:NOT\s+)?MATCHED\b.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_WHEN_RE = re.compile(
    r"WHEN\s+(?P<notm>NOT\s+)?MATCHED(?P<bysrc>\s+BY\s+SOURCE)?"
    r"(?:\s+AND\s+(?P<cond>.+?))?\s+THEN\s+"
    r"(?:UPDATE\s+SET\s+(?P<sets>.+?)|(?P<delete>DELETE)"
    r"|(?P<insert>INSERT\s+\*"
    r"|INSERT\s*\((?P<icols>[^)]+)\)\s*VALUES\s*\((?P<ivals>.+?)\)))"
    r"\s*(?=WHEN\s+(?:NOT\s+)?MATCHED\b|;?\s*$)",
    re.IGNORECASE | re.DOTALL,
)


def _parse_merge_on(on: str) -> list:
    """ON clause -> key list: either ``(k1, k2)`` / ``k1, k2`` or the
    equality form ``t.k = s.k [AND t.j = s.j]`` (same name both sides —
    renaming joins are outside the documented subset)."""
    on = on.strip()
    if re.fullmatch(r"\(?\s*[A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*\s*\)?", on):
        return [k.strip() for k in on.strip("() \t\n").split(",")]
    keys = []
    for part in re.split(r"\s+AND\s+", on, flags=re.IGNORECASE):
        mm = re.fullmatch(
            r"\(?\s*t\.([A-Za-z_]\w*)\s*=\s*s\.([A-Za-z_]\w*)\s*\)?",
            part.strip(),
        )
        if not mm or mm.group(1).lower() != mm.group(2).lower():
            raise ValueError(
                f"MERGE ON clause {on!r}: expected a key list or "
                "t.<k> = s.<k> equalities (same column name both sides)"
            )
        keys.append(mm.group(1))
    return keys


def _split_top_commas(s: str) -> list:
    """Split on commas at top level only (outside parens and
    single-quoted strings)."""
    parts, buf = [], []
    depth, in_str = 0, False
    for ch in s:
        if in_str:
            buf.append(ch)
            if ch == "'":
                in_str = False
            continue
        if ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
            continue
        buf.append(ch)
    parts.append("".join(buf))
    return parts


def _split_assignments(sets: str) -> dict:
    """SET clause -> {col: expr}. Commas split only at top level (outside
    parens and single-quoted strings), so ``SET v = greatest(a, b), w = 2``
    parses correctly; a fragment without a top-level ``=`` raises a clear
    error instead of an opaque unpack failure."""
    parts = _split_top_commas(sets)
    assignments = {}
    for part in parts:
        col, eq, expr = part.partition("=")
        if not eq or not col.strip() or not re.fullmatch(
            r"(?:t\.)?[A-Za-z_]\w*", col.strip()
        ):
            raise ValueError(
                f"unsupported SET assignment {part.strip()!r}: expected "
                "top-level comma-separated `col = expr` pairs"
            )
        col = col.strip()
        assignments[col[2:] if col[:2] == "t." else col] = expr.strip()
    return assignments


_REORG_RE = re.compile(
    r"^\s*REORG\s+TABLE\s+(?P<name>[A-Za-z_]\w*)\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*$",
    re.IGNORECASE,
)
_OPTIMIZE_RE = re.compile(
    r"^\s*OPTIMIZE\s+(?P<name>[A-Za-z_]\w*)"
    r"(?:\s+WHERE\s+(?P<cond>.+?))?"
    r"(?:\s+ZORDER\s+BY\s*\(\s*"
    r"(?P<zcols>[A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*\))?"
    r"(?:\s+INTO\s+(?P<n>\d+)\s+FILES)?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DETAIL_RE = re.compile(
    r"^\s*DESCRIBE\s+DETAIL\s+(?P<name>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
# DESCRIBE [TABLE] t: per-column name/type plus the DEFAULT / GENERATED
# / IDENTITY decoration — the schema view DESCRIBE DETAIL (manifest
# facts) and SHOW CREATE TABLE (round-trippable DDL) don't cover.
_DESCRIBE_TABLE_RE = re.compile(
    r"^\s*(?:DESCRIBE|DESC)\s+(?:TABLE\s+)?(?P<name>[A-Za-z_]\w*)"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
# TRUNCATE TABLE t / DELETE FROM t (no predicate): metadata-only
# delete-all (the `$` anchor keeps predicate DELETEs on their routes).
_TRUNCATE_RE = re.compile(
    r"^\s*(?:TRUNCATE\s+TABLE\s+(?P<name>[A-Za-z_]\w*)"
    r"|DELETE\s+FROM\s+(?P<name2>[A-Za-z_]\w*))\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_CONSTRAINT_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>[A-Za-z_]\w*)\s+"
    r"(?:ADD\s+CONSTRAINT\s+(?P<cname>[A-Za-z_]\w*)\s+CHECK\s*\((?P<expr>.+)\)"
    r"|DROP\s+CONSTRAINT\s+(?P<dname>[A-Za-z_]\w*))\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# Schema-evolution DDL. Rename/drop require column mapping; the route
# auto-enables it (an idempotent metadata commit) so a user evolving a
# curated table needs one statement, not a property dance.
_ALTER_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>[A-Za-z_]\w*)\s+"
    r"(?:RENAME\s+COLUMN\s+(?P<old>[A-Za-z_]\w*)\s+TO\s+(?P<new>[A-Za-z_]\w*)"
    r"|DROP\s+COLUMN\s+(?P<drop>[A-Za-z_]\w*))\s*;?\s*$",
    re.IGNORECASE,
)
# ADD COLUMN takes a FULL column spec (same clause grammar as CREATE
# TABLE — DEFAULT incl. expressions, COMMENT, NOT NULL in any order);
# the spec is parsed by _parse_col_spec, so nested parens in expression
# defaults survive. GENERATED / IDENTITY refuse (Delta cannot add
# either to an existing table); NOT NULL requires a DEFAULT (without
# one, every pre-existing row would violate it immediately).
_ADD_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>[A-Za-z_]\w*)\s+ADD\s+COLUMNS?\s+"
    r"(?P<spec>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_PART_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>[A-Za-z_]\w*)\s+"
    r"(?:SET\s+PARTITIONED\s+BY\s*\(\s*"
    r"(?P<col>[A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*\)"
    r"|(?P<clear>CLEAR\s+PARTITIONING))\s*;?\s*$",
    re.IGNORECASE,
)
# ALTER COLUMN c SET DEFAULT lit / DROP DEFAULT (Delta): changes the
# WRITE default; the birth default keeps resolving pre-existing files.
_ALTER_COL_DEFAULT_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>[A-Za-z_]\w*)\s+ALTER\s+COLUMN\s+"
    r"(?P<col>[A-Za-z_]\w*)\s+"
    r"(?:SET\s+DEFAULT\s+(?P<default>.+?)"
    r"|(?P<drop>DROP\s+DEFAULT))\s*;?\s*$",
    re.IGNORECASE,
)
# ALTER COLUMN c SET/DROP NOT NULL (Delta): a reserved-name CHECK —
# SET validates the standing data first (Delta refuses otherwise).
_ALTER_NOT_NULL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>[A-Za-z_]\w*)\s+ALTER\s+COLUMN\s+"
    r"(?P<col>[A-Za-z_]\w*)\s+(?:SET\s+NOT\s+NULL"
    r"|(?P<drop>DROP\s+NOT\s+NULL))\s*;?\s*$",
    re.IGNORECASE,
)
# SET/UNSET TBLPROPERTIES + SHOW TBLPROPERTIES (Delta): user key-value
# metadata carried by the manifest, cloned and RESTOREd like the rest.
_SET_TBLPROPS_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>[A-Za-z_]\w*)\s+SET\s+TBLPROPERTIES"
    r"\s*\((?P<pairs>.+)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UNSET_TBLPROPS_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>[A-Za-z_]\w*)\s+UNSET\s+TBLPROPERTIES"
    r"\s*(?:IF\s+EXISTS\s*)?\((?P<keys>.+)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_SHOW_TBLPROPS_RE = re.compile(
    r"^\s*SHOW\s+TBLPROPERTIES\s+(?P<name>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
_TBLPROP_PAIR_RE = re.compile(
    r"^\s*'(?P<key>(?:[^']|'')+)'\s*=\s*'(?P<val>(?:[^']|'')*)'\s*$"
)
# ALTER COLUMN c COMMENT 'txt': O(metadata) column documentation.
_ALTER_COL_COMMENT_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>[A-Za-z_]\w*)\s+ALTER\s+COLUMN\s+"
    r"(?P<col>[A-Za-z_]\w*)\s+COMMENT\s+'(?P<comment>(?:[^']|'')*)'"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
# ALTER COLUMN c TYPE <wider> (Delta's type-widening DDL): an O(1)
# metadata commit — snapshot_widen_column stamps the widened type into
# the types map (and the mapped schema), refusing narrowing/cross-chain.
_ALTER_COL_TYPE_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>[A-Za-z_]\w*)\s+ALTER\s+COLUMN\s+"
    r"(?P<col>[A-Za-z_]\w*)\s+TYPE\s+(?P<dtype>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
# ALTER TABLE t SYNC IDENTITY (Delta): recompute identity high-water
# marks from the stored values (post-RESTORE/clone repair).
_SYNC_IDENTITY_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>[A-Za-z_]\w*)\s+SYNC\s+IDENTITY"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_BEGIN_RE = re.compile(
    r"^\s*BEGIN(?:\s+TRANSACTION)?\s*;?\s*$", re.IGNORECASE
)
_COMMIT_TXN_RE = re.compile(r"^\s*COMMIT(?:\s+TRANSACTION)?\s*;?\s*$",
                            re.IGNORECASE)
_ROLLBACK_RE = re.compile(r"^\s*ROLLBACK(?:\s+TRANSACTION)?\s*;?\s*$",
                          re.IGNORECASE)
# general-predicate DML (tried after the BETWEEN fast paths): any WHERE
# expression routes to snapshot_delete_where / snapshot_update_where,
# which prune files from the predicate's conjunctive constraints
_DELETE_WHERE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<name>[A-Za-z_]\w*)\s+WHERE\s+"
    r"(?P<cond>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_WHERE_RE = re.compile(
    r"^\s*UPDATE\s+(?P<name>[A-Za-z_]\w*)\s+SET\s+(?P<sets>.+?)\s+WHERE\s+"
    r"(?P<cond>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_SUBQUERY_RE = re.compile(r"\(\s*SELECT\b", re.IGNORECASE)
# batch change-data-feed table function (Delta's table_changes): each
# reference rewrites to a temp view materialized from the manifest-aware
# snapshot_change_feed (only CHANGED files are read)
_TABLE_CHANGES_RE = re.compile(
    r"\btable_changes\s*\(\s*'(?P<name>[A-Za-z_]\w*)'\s*,\s*"
    r"(?P<v1>\d+)(?:\s*,\s*(?P<v2>\d+))?\s*\)",
    re.IGNORECASE,
)
# the uncorrelated staging-key shape (`k IN (SELECT ...)`) as the WHOLE
# clause — the form whose subquery bounds seed a file prune
_IN_SUBQ_RE = re.compile(
    r"^\s*(?P<col>[A-Za-z_]\w*)\s+IN\s*\(\s*(?P<sub>SELECT\b.+)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_COPY_INTO_RE = re.compile(
    r"^\s*COPY\s+INTO\s+(?P<name>[A-Za-z_]\w*)\s+FROM\s+'(?P<src>[^']+)'\s+"
    r"FILEFORMAT\s*=\s*(?P<fmt>[A-Za-z]+)"
    r"(?:\s+FORMAT_OPTIONS\s*\((?P<opts>[^)]*)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_RESTORE_RE = re.compile(
    r"^\s*RESTORE\s+TABLE\s+(?P<name>[A-Za-z_]\w*)\s+"
    r"(?:VERSION\s+AS\s+OF\s+(?P<version>\d+)"
    r"|TIMESTAMP\s+AS\s+OF\s+(?P<ts>'[^']*'|[\d.]+))\s*;?\s*$",
    re.IGNORECASE,
)
# SELECT-level time travel (Delta/Iceberg's most-used form): a registered
# table name followed by VERSION AS OF n / TIMESTAMP AS OF '<iso>' inside
# any plain-SQL statement. Rewritten to a version-pinned temp view before
# delegation to spark.sql — the pinned view reads ONE resolved manifest,
# so the result stays frozen across later appends.
_TT_RE = re.compile(
    r"\b(?P<name>[A-Za-z_]\w*)\s+"
    r"(?:VERSION\s+AS\s+OF\s+(?P<version>\d+)"
    r"|TIMESTAMP\s+AS\s+OF\s+(?P<ts>'[^']*'|[\d.]+))",
    re.IGNORECASE,
)
_VACUUM_RE = re.compile(
    r"^\s*VACUUM\s+(?P<name>[A-Za-z_]\w*)"
    r"(?:\s+RETAIN\s+(?P<n>\d+)\s+VERSIONS)?"
    r"(?:\s+(?P<dry>DRY\s+RUN))?\s*;?\s*$",
    re.IGNORECASE,
)
_ANALYZE_RE = re.compile(
    r"^\s*ANALYZE\s+TABLE\s+(?P<name>[A-Za-z_]\w*)\s+COMPUTE\s+"
    r"(?:STATISTICS|(?P<bloom>BLOOM\s+FILTERS))\s+FOR\s+COLUMNS\s*\(?\s*"
    r"(?P<cols>[A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*\)?\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_RE = re.compile(
    r"^\s*SHOW\s+(?P<what>TABLES|VIEWS)\s*;?\s*$", re.IGNORECASE
)
_HISTORY_RE = re.compile(
    r"^\s*DESCRIBE\s+HISTORY\s+(?P<name>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)


def _literal(tok: str):
    """A BETWEEN bound: int, float, or single-quoted string."""
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


class SnapshotCatalog:
    """Session-scoped snapshot-table catalog: name -> (path, version).

    ``sql()`` is the single entry point — DDL mutates the registry,
    anything else re-registers every live table at its current version
    and delegates to ``spark.sql``. The underlying DataSource must be
    registered once per session (done lazily here)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._tables: dict[str, tuple[str, int | None]] = {}
        self._views: dict[str, str] = {}  # named views, creation order
        self._txn = None  # open BEGIN TRANSACTION, if any
        # (path, version, manifest ts) each registered view is pinned at —
        # lets _refresh skip the Python-data-source reload for tables
        # whose resolved version did not move (see _register)
        self._pinned: dict[str, tuple] = {}
        from .snapshot_datasource import SnapshotDataSource

        try:
            spark.dataSource.register(SnapshotDataSource)
        except Exception:
            pass  # already registered in this session

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
        if _BEGIN_RE.match(text):
            from .snapshots import SnapshotTransaction

            if self._txn is not None:
                raise RuntimeError("a transaction is already open")
            self._txn = SnapshotTransaction()
            self._txn.__enter__()
            return None
        if _COMMIT_TXN_RE.match(text):
            if self._txn is None:
                raise RuntimeError("COMMIT without an open transaction")
            txn, self._txn = self._txn, None
            txn.__exit__(None, None, None)  # all-or-nothing swap; raises
            # SnapshotCommitConflict on abort (staged manifests orphan)
            return None
        if _ROLLBACK_RE.match(text):
            if self._txn is None:
                raise RuntimeError("ROLLBACK without an open transaction")
            txn, self._txn = self._txn, None
            txn.__exit__(RuntimeError, RuntimeError("rollback"), None)
            return None
        m = _CTAS_RE.match(text)
        if m:
            from .snapshots import snapshot_write

            name, replace = m.group("name"), bool(m.group("replace"))
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
            path = m.group("opath") or m.group("lpath")
            if (Path(path) / "_latest").exists() and not replace:
                raise ValueError(
                    f"a snapshot table already exists at {path} "
                    "(use CREATE OR REPLACE TABLE)"
                )
            part = m.group("part1") or m.group("part2")
            snapshot_write(
                self._fresh_sql(m.group("query")), path,
                partition_by=[c.strip() for c in part.split(",")]
                if part else None,
            )
            self.create_table(name, path)
            return None
        m = _CREATE_EMPTY_RE.match(text)
        if m:
            from .snapshots import snapshot_create_table

            name = m.group("name")
            if name in self._tables:
                raise ValueError(f"table {name!r} already registered")
            cols = []
            for spec in _split_top_commas(m.group("cols")):
                cm = _parse_col_spec(spec)
                if not cm:
                    raise ValueError(
                        f"CREATE TABLE: cannot parse column spec {spec!r}"
                    )
                # DEFAULT/GENERATED/IDENTITY mutual exclusion is
                # validated once, in snapshot_create_table
                default, wdefault = cm["default"], None
                if default is not None:
                    # expression DEFAULTs fold to a birth literal NOW,
                    # the raw expression re-evaluates at each write
                    default, wdefault = _fold_default(self.spark, default)
                comment = cm["comment"]
                cols.append(
                    (cm["name"], cm["dtype"].lower(), default,
                     cm["generated"], cm["identity"], cm["notnull"],
                     comment.replace("''", "'") if comment else None,
                     wdefault)
                )
            part = m.group("part1") or m.group("part2")
            if part:
                pcols = [c.strip() for c in part.split(",")]
                declared = {c[0].lower() for c in cols}
                unknown = [c for c in pcols if c.lower() not in declared]
                if unknown:
                    raise ValueError(
                        f"PARTITIONED BY names undeclared column(s) "
                        f"{unknown}"
                    )
            snapshot_create_table(m.group("opath") or m.group("lpath"), cols)
            if part:
                from .snapshots import snapshot_set_partitioning

                snapshot_set_partitioning(
                    m.group("opath") or m.group("lpath"), pcols
                )
            if m.group("props"):
                # trailing TBLPROPERTIES: re-executable SHOW CREATE —
                # delta.constraints.* keys re-apply as CHECKs, the rest
                # land as table properties
                from .snapshots import (
                    snapshot_set_constraint,
                    snapshot_set_properties,
                )

                tpath = m.group("opath") or m.group("lpath")
                plain: dict = {}
                for pair in _split_top_commas(m.group("props")):
                    pm_ = _TBLPROP_PAIR_RE.match(pair)
                    if not pm_:
                        raise ValueError(
                            f"CREATE TABLE: cannot parse TBLPROPERTIES "
                            f"pair {pair!r}"
                        )
                    key = pm_.group("key").replace("''", "'")
                    val = pm_.group("val").replace("''", "'")
                    if key.startswith("delta.constraints."):
                        snapshot_set_constraint(
                            self.spark, tpath,
                            key[len("delta.constraints."):], val,
                        )
                    else:
                        plain[key] = val
                if plain:
                    snapshot_set_properties(tpath, plain)
            self.create_table(name, m.group("opath") or m.group("lpath"))
            return None
        m = _CLONE_RE.match(text)
        if m:
            from .snapshots import snapshot_clone

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
            snapshot_clone(
                spath, m.group("path"),
                # an unqualified clone of a version-pinned registration
                # clones the PINNED version (what the name reads as)
                version=int(v) if v is not None else spin,
                as_of_ts=_ts_literal(ts) if ts else None,
            )
            self.create_table(name, m.group("path"))
            return None
        m = _CREATE_RE.match(text)
        if m:
            if m.group("name") in self._tables and not m.group("replace"):
                raise ValueError(
                    f"table {m.group('name')!r} already registered "
                    "(use CREATE OR REPLACE TABLE)"
                )
            v = m.group("version")
            self.create_table(
                m.group("name"),
                m.group("opath") or m.group("lpath"),
                int(v) if v is not None else None,
            )
            return None
        m = _DROP_RE.match(text)
        if m and m.group("name") in self._tables:
            self.drop_table(m.group("name"))
            return None
        m = _CREATE_VIEW_RE.match(text)
        if m:
            name = m.group("name")
            if name in self._tables:
                raise ValueError(f"{name!r} is a registered TABLE")
            if name in self._views and not m.group("replace"):
                raise ValueError(
                    f"view {name!r} already exists "
                    "(use CREATE OR REPLACE VIEW)"
                )
            q = m.group("query").rstrip().rstrip(";")
            prior = self._views.get(name)
            self._views[name] = q
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
        m = _DROP_VIEW_RE.match(text)
        if m:
            name = m.group("name")
            if name not in self._views:
                if m.group("ifex"):
                    return None
                raise KeyError(f"no view named {name!r}")
            del self._views[name]
            self.spark.catalog.dropTempView(name)
            return None
        handled = self._dml(text)
        if handled is not NotImplemented:
            return handled
        # plain SQL: re-point every registered view at the CURRENT version
        # (O(manifest) each — catalog freshness without staleness bugs)
        self._refresh()
        return self.spark.sql(
            self._table_changes_views(self._time_travel_views(text))
        )

    # -- DML ---------------------------------------------------------------
    def _dml(self, text: str):
        """Route the documented DML subset to the library's transactional
        operations (the commits keep file pruning, deletion vectors, type
        widening, and optimistic concurrency — this is syntax, not a new
        engine). Returns NotImplemented when the text is not DML."""
        from .snapshots import (
            snapshot_delete_range_mor,
            snapshot_history,
            snapshot_restore,
            snapshot_update_range_mor,
            snapshot_upsert,
            snapshot_vacuum,
        )

        m = _REPLACE_WHERE_RE.match(text)
        if m and m.group("name") in self._tables:
            from .snapshots import snapshot_replace_where

            path = self._writable(m.group("name"))
            df = self._values_named(
                self._fresh_sql(m.group("query")), m.group("query"),
                m.group("name"),
            )
            cond, _ = self._dml_condition(m.group("cond"))
            snapshot_replace_where(self.spark, path, cond, df)
            return None
        m = _INSERT_OVERWRITE_RE.match(text)
        if m and m.group("name") in self._tables:
            from .snapshots import snapshot_replace_where

            path = self._writable(m.group("name"))
            df = self._values_named(
                self._fresh_sql(m.group("query")), m.group("query"),
                m.group("name"),
            )
            snapshot_replace_where(self.spark, path, None, df)
            return None
        m = _INSERT_RE.match(text)
        if m and m.group("name") in self._tables:
            path = self._writable(m.group("name"))
            df = self._fresh_sql(m.group("query"))
            if m.group("cols"):
                # explicit column list: the source maps to it by
                # position; unlisted columns simply stay absent from the
                # written files (typed NULLs / DEFAULTs / GENERATED
                # expressions resolve them — narrow-append semantics)
                cols = [c.strip() for c in m.group("cols").split(",")]
                if len(df.columns) != len(cols):
                    raise ValueError(
                        f"INSERT INTO (cols): {len(cols)} columns listed "
                        f"but the source has {len(df.columns)}"
                    )
                df = df.toDF(*cols)
            else:
                df = self._values_named(
                    df, m.group("query"), m.group("name"),
                )
            from .snapshots import snapshot_append

            snapshot_append(df, path)
            return None
        m = _MERGE_RE.match(text)
        if m and m.group("name") in self._tables:
            path = self._writable(m.group("name"))
            src = m.group("src")
            df = self._fresh_sql(
                src[1:-1] if src.startswith("(") else f"SELECT * FROM {src}"
            )
            keys = [k.strip() for k in m.group("keys").split(",")]
            snapshot_upsert(
                self.spark, df, path, keys,
                auto_evolve_schema=bool(m.group("evolve")),
            )
            return None
        m = _MERGE_COND_RE.match(text)
        if m and m.group("name") in self._tables:
            self._merge_conditional(m)
            return None
        m = _DELETE_RE.match(text)
        if m and m.group("name") in self._tables:
            path = self._writable(m.group("name"))
            snapshot_delete_range_mor(
                self.spark, path, m.group("col"),
                _literal(m.group("lo")), _literal(m.group("hi")),
            )
            return None
        m = _UPDATE_RE.match(text)
        if m and m.group("name") in self._tables:
            path = self._writable(m.group("name"))
            assignments = _split_assignments(m.group("sets"))
            snapshot_update_range_mor(
                self.spark, path, m.group("col"),
                _literal(m.group("lo")), _literal(m.group("hi")),
                assignments,
            )
            return None
        # general-predicate DML: any WHERE expression (the BETWEEN fast
        # paths above prune by the range's region; these recover pruning
        # from the region the predicate text implies — `k = 5` still
        # touches only overlapping files)
        m = _DELETE_WHERE_RE.match(text)
        if m and m.group("name") in self._tables:
            from .snapshots import snapshot_delete_where

            path = self._writable(m.group("name"))
            cond, prune = self._dml_condition(m.group("cond"))
            snapshot_delete_where(
                self.spark, path, cond, _prune_region=prune,
                table_alias=m.group("name"),
            )
            return None
        m = _UPDATE_WHERE_RE.match(text)
        if m and m.group("name") in self._tables:
            from .snapshots import snapshot_update_where

            path = self._writable(m.group("name"))
            cond, prune = self._dml_condition(m.group("cond"))
            snapshot_update_where(
                self.spark, path, cond,
                _split_assignments(m.group("sets")),
                _prune_region=prune,
                table_alias=m.group("name"),
            )
            return None
        m = _ALTER_CONSTRAINT_RE.match(text)
        if m and m.group("name") in self._tables:
            from .snapshots import (
                snapshot_drop_constraint,
                snapshot_set_constraint,
            )

            path = self._writable(m.group("name"))
            if m.group("cname"):
                snapshot_set_constraint(
                    self.spark, path, m.group("cname"), m.group("expr")
                )
            else:
                snapshot_drop_constraint(path, m.group("dname"))
            return None
        m = _ADD_COL_RE.match(text)
        if m and m.group("name") in self._tables:
            from .snapshots import snapshot_enable_column_mapping

            path = self._writable(m.group("name"))
            snapshot_enable_column_mapping(self.spark, path)  # idempotent
            specs = m.group("spec").strip()
            if specs.startswith("(") and _scan_balanced(specs, 0) == len(specs):
                specs = specs[1:-1].strip()  # optional surrounding parens
            from .snapshots import _read_manifest, current_version

            sch = _read_manifest(
                Path(path), current_version(path)
            ).get("schema") or {}
            live = {c["name"].lower() for c in sch.get("cols", [])}
            parsed = []
            for spec in _split_top_commas(specs):
                cm = _parse_col_spec(spec)
                if not cm:
                    raise ValueError(
                        f"ADD COLUMN: cannot parse column spec {spec!r}"
                    )
                # every refusal fires HERE, before any spec commits —
                # a multi-column statement must not leave the table
                # with half its columns when a later spec is invalid.
                # That includes the dynamic checks: the DEFAULT fold
                # (stored on the spec so _add_one_column never
                # re-folds), a NOT NULL whose expression default folds
                # to NULL, and name collisions against the live schema
                # AND within the statement itself.
                self._validate_add_column(cm)
                if cm["default"] is not None:
                    cm["_folded"] = _fold_default(self.spark, cm["default"])
                    if cm["notnull"] and (
                        cm["_folded"][0].strip().lower() == "null"
                    ):
                        raise ValueError(
                            "ADD COLUMN ... NOT NULL requires a "
                            "non-NULL DEFAULT: the expression default "
                            f"{cm['default']!r} folds to NULL, so every "
                            "pre-existing row would violate immediately"
                        )
                key = cm["name"].lower()
                if key in live:
                    raise ValueError(
                        f"ADD COLUMN: column {cm['name']!r} already "
                        "exists"
                    )
                live.add(key)  # catches duplicates WITHIN the statement
                parsed.append(cm)
            for cm in parsed:
                self._add_one_column(path, cm)
            return None
        m = _ALTER_COL_RE.match(text)
        if m and m.group("name") in self._tables:
            from .snapshots import (
                snapshot_drop_column,
                snapshot_enable_column_mapping,
                snapshot_rename_column,
            )

            path = self._writable(m.group("name"))
            snapshot_enable_column_mapping(self.spark, path)  # idempotent
            if m.group("old"):
                snapshot_rename_column(path, m.group("old"), m.group("new"))
            else:
                snapshot_drop_column(path, m.group("drop"))
            return None
        m = _ALTER_COL_DEFAULT_RE.match(text)
        if m and m.group("name") in self._tables:
            from .snapshots import (
                snapshot_enable_column_mapping,
                snapshot_set_column_default,
            )

            path = self._writable(m.group("name"))
            snapshot_enable_column_mapping(self.spark, path)  # idempotent
            default = m.group("default")
            if default is not None:
                # the write default stores the RAW expression (literal
                # or constant-foldable; re-evaluated per write batch) —
                # folding here only validates it is row-free
                _fold_default(self.spark, default)
            snapshot_set_column_default(path, m.group("col"), default)
            return None
        m = _SYNC_IDENTITY_RE.match(text)
        if m and m.group("name") in self._tables:
            from .snapshots import snapshot_sync_identity

            path = self._writable(m.group("name"))
            snapshot_sync_identity(self.spark, path)
            return None
        m = _SET_TBLPROPS_RE.match(text)
        if m and m.group("name") in self._tables:
            from .snapshots import snapshot_set_properties

            path = self._writable(m.group("name"))
            props = {}
            for pair in _split_top_commas(m.group("pairs")):
                pm = _TBLPROP_PAIR_RE.match(pair)
                if not pm:
                    raise ValueError(
                        f"SET TBLPROPERTIES: cannot parse pair {pair!r} "
                        "(expected 'key' = 'value')"
                    )
                props[pm.group("key").replace("''", "'")] = (
                    pm.group("val").replace("''", "'")
                )
            snapshot_set_properties(path, props)
            return None
        m = _UNSET_TBLPROPS_RE.match(text)
        if m and m.group("name") in self._tables:
            from .snapshots import snapshot_unset_properties

            path = self._writable(m.group("name"))
            keys = []
            for k in _split_top_commas(m.group("keys")):
                km = re.match(r"^\s*'(?P<key>(?:[^']|'')+)'\s*$", k)
                if not km:
                    raise ValueError(
                        f"UNSET TBLPROPERTIES: cannot parse key {k!r} "
                        "(expected 'key')"
                    )
                keys.append(km.group("key").replace("''", "'"))
            snapshot_unset_properties(path, keys)
            return None
        m = _SHOW_TBLPROPS_RE.match(text)
        if m and m.group("name") in self._tables:
            from .snapshots import _read_manifest, current_version

            path, pin = self._tables[m.group("name")]
            v = pin if pin is not None else current_version(path)
            props = _read_manifest(Path(path), v).get("properties") or {}
            return self.spark.createDataFrame(
                [(k, props[k]) for k in sorted(props)] or [],
                "key string, value string",
            )
        m = _ALTER_COL_COMMENT_RE.match(text)
        if m and m.group("name") in self._tables:
            from .snapshots import (
                snapshot_enable_column_mapping,
                snapshot_set_column_comment,
            )

            path = self._writable(m.group("name"))
            snapshot_enable_column_mapping(self.spark, path)  # idempotent
            snapshot_set_column_comment(
                path, m.group("col"),
                m.group("comment").replace("''", "'"),
            )
            return None
        m = _ALTER_COL_TYPE_RE.match(text)
        if m and m.group("name") in self._tables:
            from .snapshots import snapshot_widen_column

            path = self._writable(m.group("name"))
            snapshot_widen_column(
                self.spark, path, m.group("col"), m.group("dtype")
            )
            return None
        m = _ALTER_NOT_NULL_RE.match(text)
        if m and m.group("name") in self._tables:
            from .snapshots import (
                snapshot_drop_constraint,
                snapshot_set_constraint,
            )

            path = self._writable(m.group("name"))
            col = m.group("col")
            if m.group("drop"):
                snapshot_drop_constraint(path, f"__not_null_{col}")
            else:
                snapshot_set_constraint(
                    self.spark, path, f"__not_null_{col}",
                    f"{col} IS NOT NULL",
                )
            return None
        m = _ALTER_PART_RE.match(text)
        if m and m.group("name") in self._tables:
            from .snapshots import snapshot_set_partitioning

            path = self._writable(m.group("name"))
            snapshot_set_partitioning(
                path,
                None if m.group("clear")
                else [c.strip() for c in m.group("col").split(",")],
            )
            return None
        m = _COPY_INTO_RE.match(text)
        if m and m.group("name") in self._tables:
            from .snapshots import snapshot_copy_into

            path = self._writable(m.group("name"))
            opts = {}
            for pair in _split_top_commas(m.group("opts") or ""):
                if not pair.strip():
                    continue
                k, eq, v = pair.partition("=")
                if not eq:
                    raise ValueError(
                        f"COPY INTO: bad FORMAT_OPTIONS pair {pair.strip()!r}"
                    )
                opts[k.strip().strip("'\"")] = v.strip().strip("'\"")
            snapshot_copy_into(
                self.spark, m.group("src"), path,
                fileformat=m.group("fmt").lower(),
                format_options=opts or None,
            )
            return None
        m = _RESTORE_RE.match(text)
        if m and m.group("name") in self._tables:
            path = self._writable(m.group("name"))
            if m.group("version") is not None:
                snapshot_restore(path, int(m.group("version")))
            else:
                snapshot_restore(path, as_of_ts=_ts_literal(m.group("ts")))
            return None
        m = _VACUUM_RE.match(text)
        if m and m.group("name") in self._tables:
            if self._txn is not None:
                raise RuntimeError(
                    "VACUUM inside an open transaction would anchor "
                    "retention on the staged version; COMMIT first"
                )
            path, _ = self._tables[m.group("name")]
            n = m.group("n")
            if m.group("dry"):
                rels = snapshot_vacuum(
                    path, keep_versions=int(n) if n else 1, dry_run=True
                )
                return self.spark.createDataFrame(
                    [(r,) for r in rels] or [], "path string"
                )
            snapshot_vacuum(path, keep_versions=int(n) if n else 1)
            return None
        m = _REORG_RE.match(text)
        if m and m.group("name") in self._tables:
            if self._txn is not None:
                raise RuntimeError(
                    "REORG inside an open transaction is not supported; "
                    "COMMIT first"
                )
            from .snapshots import snapshot_purge_dv

            path = self._writable(m.group("name"))
            snapshot_purge_dv(self.spark, path)
            return None
        m = _OPTIMIZE_RE.match(text)
        if m and m.group("name") in self._tables:
            if self._txn is not None:
                raise RuntimeError(
                    "OPTIMIZE inside an open transaction is not "
                    "supported; COMMIT first"
                )
            from .snapshots import (
                snapshot_compact,
                snapshot_compact_where,
                snapshot_zorder_compact_n,
            )

            path = self._writable(m.group("name"))
            n = int(m.group("n")) if m.group("n") else None
            if m.group("cond"):
                if m.group("zcols"):
                    raise ValueError(
                        "OPTIMIZE WHERE does not compose with ZORDER BY "
                        "(z-ordering is a whole-layout property)"
                    )
                snapshot_compact_where(
                    self.spark, path, m.group("cond"),
                    target_files=n if n else 1,
                )
            elif m.group("zcols"):
                snapshot_zorder_compact_n(
                    self.spark, path,
                    [c.strip() for c in m.group("zcols").split(",")],
                    **({"n_files": n} if n else {}),
                )
            else:
                snapshot_compact(
                    self.spark, path, target_files=n if n else 1
                )
            return None
        m = _DETAIL_RE.match(text)
        if m and m.group("name") in self._tables:
            import json as _json

            from .snapshots import _read_manifest, current_version

            path, version = self._tables[m.group("name")]
            v = current_version(path) if version is None else version
            mf = _read_manifest(Path(path), v)
            spec = mf.get("partitioning")
            bspec = mf.get("bucketing")
            return self.spark.createDataFrame(
                [(
                    m.group("name"), str(path), v,
                    len(mf.get("files", [])),
                    ",".join(spec["cols"]) if spec else None,
                    _json.dumps(bspec) if bspec else None,
                    _json.dumps(mf.get("types")) if mf.get("types") else None,
                    _json.dumps(mf.get("constraints"))
                    if mf.get("constraints") else None,
                    mf.get("schema") is not None,
                    sum(int(dv[0]) for dv in (mf.get("dv") or {}).values()),
                )],
                "name string, location string, version long, n_files long, "
                "partitioning string, bucketing string, widened_types string, "
                "check_constraints string, column_mapping boolean, "
                "dv_deleted_rows long",
            )
        m = _DESCRIBE_TABLE_RE.match(text)
        if m and m.group("name") in self._tables:
            from .snapshots import _read_manifest, current_version

            name = m.group("name")
            path, pin = self._tables[name]
            v = pin if pin is not None else current_version(path)
            man = _read_manifest(Path(path), v)
            scols = (man.get("schema") or {}).get("cols", [])
            nn = {
                cn[len("__not_null_"):]
                for cn in (man.get("constraints") or {})
                if cn.startswith("__not_null_")
            }
            reader = self.spark.read.format("snapshot").option(
                "path", str(path)
            ).option("version", str(v))
            meta = {c["name"]: c for c in scols}
            rows = []
            for f in reader.load().schema.fields:
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
                    wd = c.get("wdefault")
                    d = (wd if wd != "NULL" else None) if wd is not None \
                        else c.get("default")
                    info = f"DEFAULT {d}" if d is not None else None
                if f.name in nn:
                    info = f"NOT NULL {info}" if info else "NOT NULL"
                rows.append((
                    f.name, f.dataType.simpleString(), info,
                    c.get("comment"),
                ))
            return self.spark.createDataFrame(
                rows,
                "col_name string, data_type string, info string, "
                "comment string",
            )
        m = _TRUNCATE_RE.match(text)
        if m and (m.group("name") or m.group("name2")) in self._tables:
            from .snapshots import snapshot_truncate

            path = self._writable(m.group("name") or m.group("name2"))
            snapshot_truncate(path)
            return None
        m = _ANALYZE_RE.match(text)
        if m and m.group("name") in self._tables:
            from .snapshots import snapshot_analyze, snapshot_analyze_blooms

            path = self._writable(m.group("name"))
            fn = snapshot_analyze_blooms if m.group("bloom") else snapshot_analyze
            fn(
                self.spark, path,
                [c.strip() for c in m.group("cols").split(",")],
            )
            return None
        m = _SHOW_PARTS_RE.match(text)
        if m and m.group("name") in self._tables:
            from .snapshots import _read_manifest, current_version

            name = m.group("name")
            path, pin = self._tables[name]
            v = pin if pin is not None else current_version(path)
            spec = _read_manifest(path, v).get("partitioning") or {}
            cols = list(spec.get("cols") or [])
            if not cols:
                raise ValueError(
                    f"SHOW PARTITIONS: table {name!r} is not partitioned"
                )
            # live partition value tuples: a distributed DISTINCT over
            # the spec columns only (column-pruned scan; post-evolution
            # files resolve it from their point stats at the footer)
            self._refresh()
            return self.spark.sql(
                f"SELECT DISTINCT {', '.join(cols)} FROM {name} "
                f"ORDER BY {', '.join(cols)}"
            )
        m = _SHOW_CREATE_RE.match(text)
        if m and m.group("name") in self._tables:
            from .snapshots import _read_manifest, current_version

            name = m.group("name")
            path, pin = self._tables[name]
            v = pin if pin is not None else current_version(path)
            man = _read_manifest(path, v)
            reader = self.spark.read.format("snapshot").option(
                "path", str(path)
            ).option("version", str(v))
            fields = reader.load().schema.fields
            scols = (man.get("schema") or {}).get("cols", [])
            # the CURRENT write default (ALTER COLUMN SET DEFAULT wins
            # over the birth default; the DROP DEFAULT sentinel hides
            # the clause entirely)
            dflt = {}
            for c in scols:
                wd = c.get("wdefault")
                if wd is not None:
                    if wd != "NULL":
                        dflt[c["name"]] = wd
                elif c.get("default") is not None:
                    dflt[c["name"]] = c["default"]
            gen = {
                c["name"]: c["generated"] for c in scols
                if c.get("generated") is not None
            }
            ident = {
                c["name"]: c["identity"] for c in scols
                if c.get("identity") is not None
            }
            cmnt = {
                c["name"]: c["comment"] for c in scols
                if c.get("comment") is not None
            }
            nn = {
                cn[len("__not_null_"):]
                for cn in (man.get("constraints") or {})
                if cn.startswith("__not_null_")
            }
            lines = [f"CREATE TABLE {name} ("]
            lines.append(",\n".join(
                f"  {f.name} {f.dataType.simpleString().upper()}"
                + (" NOT NULL" if f.name in nn else "")
                + (f" DEFAULT {dflt[f.name]}" if f.name in dflt else "")
                + (f" GENERATED ALWAYS AS ({gen[f.name]})"
                   if f.name in gen else "")
                + (
                    " GENERATED ALWAYS AS IDENTITY (START WITH "
                    f"{ident[f.name]['start']} INCREMENT BY "
                    f"{ident[f.name]['step']})"
                    if f.name in ident else ""
                )
                + (
                    " COMMENT '{}'".format(
                        cmnt[f.name].replace("'", "''")
                    )
                    if f.name in cmnt else ""
                )
                for f in fields
            ))
            lines.append(") USING snapshot")
            spec = (man.get("partitioning") or {}).get("cols")
            if spec:
                lines.append(f"PARTITIONED BY ({', '.join(spec)})")
            b = man.get("bucketing")
            if b:
                lines.append(
                    f"CLUSTERED BY ({b['col']}) INTO {b['n']} BUCKETS"
                )
            lines.append(f"LOCATION '{path}'")
            cons = man.get("constraints") or {}
            user_props = man.get("properties") or {}
            props = [
                f"  'delta.constraints.{cn}' = '{cons[cn]}'"
                for cn in sorted(cons)
                if not cn.startswith("__not_null_")  # rendered inline
            ] + [
                "  '{}' = '{}'".format(
                    k.replace("'", "''"), user_props[k].replace("'", "''")
                )
                for k in sorted(user_props)
            ]
            if props:
                lines.append(
                    "TBLPROPERTIES (\n" + ",\n".join(props) + "\n)"
                )
            return self.spark.createDataFrame(
                [("\n".join(lines),)], "createtab_stmt string"
            )
        m = _SHOW_RE.match(text)
        if m:
            from .snapshots import current_version

            if m.group("what").upper() == "TABLES":
                rows = [
                    (
                        name, str(path), version,
                        current_version(path) if version is None else version,
                    )
                    for name, (path, version) in sorted(self._tables.items())
                ]
                return self.spark.createDataFrame(
                    rows or [],
                    "name string, location string, pinned_version long, "
                    "current_version long",
                )
            rows = [
                (name, q) for name, q in sorted(self._views.items())
            ]
            return self.spark.createDataFrame(
                rows or [], "name string, definition string"
            )
        m = _HISTORY_RE.match(text)
        if m and m.group("name") in self._tables:
            path, _ = self._tables[m.group("name")]
            rows = snapshot_history(path)
            return self.spark.createDataFrame(
                [
                    (
                        r["version"], r["parent"], r["op"],
                        float(r["ts"]) if r["ts"] is not None else None,
                        r["n_files"],
                    )
                    for r in rows
                ],
                "version long, parent long, op string, ts double, n_files long",
            )
        # ALTER TABLE on a REGISTERED snapshot table that no handler
        # above recognized must refuse HERE: falling through to
        # spark.sql would hit the temp VIEW registration and produce a
        # baffling "expects a table but is a view" error (or, worse,
        # some future Spark version might silently alter the view).
        m = re.match(
            r"^\s*ALTER\s+TABLE\s+(?P<name>[A-Za-z_]\w*)\b", text,
            re.IGNORECASE,
        )
        if m and m.group("name") in self._tables:
            raise ValueError(
                f"unsupported ALTER TABLE statement for snapshot table "
                f"{m.group('name')!r}: {text.strip()[:120]!r} — see the "
                "SnapshotCatalog docstring for the supported DDL surface"
            )
        return NotImplemented

    def _merge_conditional(self, m: "re.Match") -> None:
        """Execute a parsed conditional MERGE (Delta's WHEN-clause form)
        through :func:`snapshot_merge`. The clause list must be fully
        consumed by the documented grammar — anything else raises rather
        than silently dropping an arm."""
        from .snapshots import snapshot_merge

        path = self._writable(m.group("name"))
        src = m.group("src")
        df = self._fresh_sql(
            src[1:-1] if src.startswith("(") else f"SELECT * FROM {src}"
        )
        keys = _parse_merge_on(m.group("on"))
        clauses = m.group("clauses")
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
        pos = 0
        matched_order: list[str] = []  # 'update'/'delete' in written order
        nmbs_order: list[str] = []     # same, for the BY SOURCE arms
        for w in _WHEN_RE.finditer(clauses):
            if clauses[pos : w.start()].strip():
                raise ValueError(
                    f"MERGE: unparsed clause text {clauses[pos:w.start()]!r}"
                )
            pos = w.end()
            cond = w.group("cond")
            if w.group("bysrc"):
                if not w.group("notm") or w.group("insert"):
                    raise ValueError(
                        "MERGE: BY SOURCE supports WHEN NOT MATCHED BY "
                        "SOURCE THEN DELETE / UPDATE SET (no INSERT — "
                        "there is no source row)"
                    )
                if w.group("delete"):
                    if kw["not_matched_by_source_delete"]:
                        raise ValueError(
                            "MERGE: duplicate WHEN NOT MATCHED BY SOURCE "
                            "DELETE arm"
                        )
                    kw["not_matched_by_source_delete"] = True
                    kw["not_matched_by_source_condition"] = cond
                    nmbs_order.append("delete")
                else:
                    if kw["not_matched_by_source_update"] is not None:
                        raise ValueError(
                            "MERGE: duplicate WHEN NOT MATCHED BY SOURCE "
                            "UPDATE arm"
                        )
                    if w.group("sets").strip() == "*":
                        raise ValueError(
                            "MERGE: BY SOURCE UPDATE SET * is undefined "
                            "(no source row) — list t.<col> assignments"
                        )
                    kw["not_matched_by_source_update"] = (
                        _split_assignments(w.group("sets"))
                    )
                    kw["not_matched_by_source_update_condition"] = cond
                    nmbs_order.append("update")
                continue
            if w.group("insert"):
                if not w.group("notm"):
                    raise ValueError("MERGE: INSERT requires WHEN NOT MATCHED")
                if kw["not_matched_insert"]:
                    raise ValueError("MERGE: duplicate WHEN NOT MATCHED arm")
                kw["not_matched_insert"] = True
                kw["not_matched_condition"] = cond
                if w.group("icols"):
                    cols = [c.strip() for c in w.group("icols").split(",")]
                    cols = [c[2:] if c[:2] == "t." else c for c in cols]
                    vals = [v.strip() for v in
                            _split_top_commas(w.group("ivals"))]
                    if len(cols) != len(vals):
                        raise ValueError(
                            f"MERGE INSERT: {len(cols)} columns but "
                            f"{len(vals)} values"
                        )
                    kw["not_matched_insert_values"] = dict(zip(cols, vals))
                continue
            if w.group("notm"):
                raise ValueError(
                    "MERGE: WHEN NOT MATCHED supports only INSERT * or "
                    "INSERT (cols) VALUES (exprs)"
                )
            if w.group("delete"):
                if kw["matched_delete"]:
                    raise ValueError("MERGE: duplicate WHEN MATCHED DELETE arm")
                kw["matched_delete"] = True
                kw["matched_delete_condition"] = cond
                matched_order.append("delete")
            else:
                if kw["matched_update"] is not None:
                    raise ValueError("MERGE: duplicate WHEN MATCHED UPDATE arm")
                sets = w.group("sets").strip()
                if sets == "*":
                    cols = self.spark.sql(
                        f"SELECT * FROM {m.group('name')} LIMIT 0"
                    ).columns
                    if m.group("evolve"):
                        # WITH SCHEMA EVOLUTION: SET * also assigns the
                        # source's NEW columns (they auto-add to the
                        # target inside snapshot_merge); target-only
                        # columns the source lacks carry unchanged
                        # instead of failing to resolve s.<col>
                        cols = [c for c in cols if c in set(df.columns)]
                        cols += [c for c in df.columns if c not in cols]
                    kw["matched_update"] = {c: f"s.{c}" for c in cols}
                else:
                    kw["matched_update"] = _split_assignments(sets)
                kw["matched_update_condition"] = cond
                matched_order.append("update")
        if clauses[pos:].strip():
            raise ValueError(
                f"MERGE: unparsed clause text {clauses[pos:]!r}"
            )
        if len(matched_order) == 2:
            # Delta evaluates WHEN MATCHED clauses in WRITTEN order, and
            # requires every clause but the last to carry a condition.
            # snapshot_merge's engine precedence is UPDATE-then-DELETE, so
            # a written DELETE-before-UPDATE translates by guarding the
            # update arm with NOT(delete_condition) (NULL-safe: a NULL
            # WHEN condition is false).
            first = matched_order[0]
            first_cond = kw[f"matched_{first}_condition"]
            if first_cond is None:
                raise ValueError(
                    "MERGE: when there are multiple WHEN MATCHED clauses, "
                    "each clause except the last must have an AND condition"
                )
            if first == "delete":
                neg = f"NOT coalesce(({first_cond}), false)"
                uc = kw["matched_update_condition"]
                kw["matched_update_condition"] = (
                    f"({neg}) AND ({uc})" if uc is not None else neg
                )
        if len(nmbs_order) == 2:
            # same written-order translation for the BY SOURCE pair
            # (engine precedence is UPDATE-then-DELETE there too)
            first = nmbs_order[0]
            first_cond = kw[
                "not_matched_by_source_condition" if first == "delete"
                else "not_matched_by_source_update_condition"
            ]
            if first_cond is None:
                raise ValueError(
                    "MERGE: when there are multiple WHEN NOT MATCHED BY "
                    "SOURCE clauses, each clause except the last must "
                    "have an AND condition"
                )
            if first == "delete":
                neg = f"NOT coalesce(({first_cond}), false)"
                uc = kw["not_matched_by_source_update_condition"]
                kw["not_matched_by_source_update_condition"] = (
                    f"({neg}) AND ({uc})" if uc is not None else neg
                )
        snapshot_merge(
            self.spark, df, path, keys,
            auto_evolve_schema=bool(m.group("evolve")), **kw
        )

    def _time_travel_views(self, text: str) -> str:
        """Rewrite ``<table> VERSION AS OF n`` / ``TIMESTAMP AS OF ts``
        references to version-pinned temp views (SELECT-level time
        travel). Only registered snapshot table names rewrite; anything
        else passes through untouched. Cost: O(manifest) per distinct
        (table, version) — never a data read."""
        from .snapshots import snapshot_version_as_of

        def _pin(mm: "re.Match") -> str:
            name = mm.group("name")
            if name not in self._tables:
                return mm.group(0)
            path, _ = self._tables[name]
            if mm.group("version") is not None:
                v = int(mm.group("version"))
            else:
                v = snapshot_version_as_of(
                    path, _ts_literal(mm.group("ts"))
                )
            view = f"{name}__asof_v{v}"
            (
                self.spark.read.format("snapshot")
                .option("path", path)
                .option("version", str(v))
                .load()
                .createOrReplaceTempView(view)
            )
            return view

        # substitute only matches that START outside single-quoted
        # string literals — a literal containing "<table> VERSION AS OF
        # n" is data, not a table reference (a TIMESTAMP AS OF match
        # starts at the table name, outside its own quoted literal, so
        # that form still rewrites)
        # small state machine, not find-pairing: SQL escapes a quote
        # inside a literal by doubling it (''), so 'it''s' is ONE
        # literal — naive pairing would flip parity at the inner ''
        # and mis-span everything after it
        spans = []
        i, n = 0, len(text)
        while i < n:
            if text[i] != "'":
                i += 1
                continue
            j = i + 1
            while j < n:
                if text[j] == "'":
                    if j + 1 < n and text[j + 1] == "'":
                        j += 2  # escaped quote: still inside the literal
                        continue
                    break
                j += 1
            spans.append((i, min(j + 1, n)))
            i = j + 1

        def _sub(mm: "re.Match") -> str:
            if any(a <= mm.start() < b for a, b in spans):
                return mm.group(0)
            return _pin(mm)

        return _TT_RE.sub(_sub, text)

    def _writable(self, name: str) -> str:
        path, version = self._tables[name]
        if version is not None:
            raise ValueError(
                f"table {name!r} is pinned to VERSION AS OF {version} — "
                "a time-travel registration is read-only"
            )
        return path

    @staticmethod
    def _validate_add_column(cm: dict) -> None:
        """Refusals for one ADD COLUMN spec, run for EVERY spec before
        ANY commits (per-spec application is multi-commit, so all
        statically-decidable failures must fire first — a multi-column
        statement must not leave half its columns behind). GENERATED /
        IDENTITY refuse (Delta cannot add either to an existing table);
        NOT NULL requires a non-NULL DEFAULT (without one, every
        pre-existing row reads NULL and violates immediately)."""
        if cm["generated"] is not None or cm["identity"] is not None:
            raise ValueError(
                "ADD COLUMN cannot add a GENERATED ALWAYS AS or "
                "IDENTITY column to an existing table (declare them "
                "in CREATE TABLE — Delta has the same restriction)"
            )
        if cm["notnull"] and (
            cm["default"] is None or cm["default"].strip().lower() == "null"
        ):
            raise ValueError(
                "ADD COLUMN ... NOT NULL requires a non-NULL DEFAULT: "
                "every pre-existing row would read NULL and violate "
                "the constraint immediately"
            )

    def _add_one_column(self, path: str, cm: dict) -> None:
        """Apply one parsed (and _validate_add_column-checked) ADD
        COLUMN spec: the column itself (with a folded birth default),
        then the expression write default, the comment, and the NOT
        NULL constraint — each an O(metadata) commit."""
        from .snapshots import (
            snapshot_add_column,
            snapshot_set_column_comment,
            snapshot_set_column_default,
            snapshot_set_constraint,
        )

        default, wdefault = cm["default"], None
        if default is not None:
            # expression DEFAULTs: pre-existing rows read the DDL-time
            # fold, future narrow writes re-evaluate. The ADD COLUMN[S]
            # statement loop pre-folds during its all-specs-validate
            # pass (so a fold failure fires before ANY spec commits);
            # re-fold only for callers that skipped that pass.
            default, wdefault = (
                cm.get("_folded") or _fold_default(self.spark, default)
            )
        snapshot_add_column(
            path, cm["name"], cm["dtype"].lower(), default=default
        )
        if wdefault is not None:
            snapshot_set_column_default(path, cm["name"], wdefault)
        if cm["comment"] is not None:
            snapshot_set_column_comment(
                path, cm["name"], cm["comment"].replace("''", "'")
            )
        if cm["notnull"]:
            # standing data validates against the just-added birth
            # default (non-NULL by the guard above), so this passes on
            # history and gates every later write
            snapshot_set_constraint(
                self.spark, path, f"__not_null_{cm['name']}",
                f"{cm['name']} IS NOT NULL",
            )

    def _table_changes_views(self, text: str) -> str:
        """Rewrite ``table_changes('t', v1[, v2])`` references (Delta's
        batch CDF SQL surface) to temp views materialized from
        :func:`snapshot_change_feed` — the manifest-aware net change set
        between the versions (v2 defaults to the current tip). Only
        files that CHANGED in the window are read. Unregistered names
        pass through untouched (they would fail in spark.sql loudly)."""
        from .snapshots import snapshot_change_feed

        def _pin(mm: "re.Match") -> str:
            name = mm.group("name")
            if name not in self._tables:
                return mm.group(0)
            path, _ = self._tables[name]
            v1 = int(mm.group("v1"))
            v2 = int(mm.group("v2")) if mm.group("v2") else None
            view = f"{name}__changes_{v1}_{v2 if v2 is not None else 'tip'}"
            snapshot_change_feed(
                self.spark, path, v1, v2
            ).createOrReplaceTempView(view)
            return view

        return _TABLE_CHANGES_RE.sub(_pin, text)

    def _fresh_sql(self, query: str) -> DataFrame:
        """Run a sub-query with every registered view re-pointed at its
        table's current version (INSERT/MERGE sources see fresh data).
        Time-travel clauses rewrite here too, so an INSERT/MERGE source
        can read a historical version of any registered table."""
        self._refresh()
        return self.spark.sql(
            self._table_changes_views(self._time_travel_views(query))
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
        reader = (
            self.spark.readStream.format("snapshot")
            .option("path", path)
            .option("startingVersion", str(starting_version))
        )
        if change_feed:
            reader = reader.option("readChangeFeed", "true")
        return reader.load()

    def _values_named(self, df: DataFrame, query: str, name: str):
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

    def _dml_condition(self, cond: str):
        """Prepare a DML WHERE clause: plain predicates pass through
        untouched (the engine extracts their conjunctive constraints for
        file pruning). A clause containing a subquery — ``k IN
        (SELECT ...)``, ``[NOT] EXISTS (...)``, the reference's
        staging-key delete shape as SQL — first re-points every
        registered view (the subquery must see CURRENT table state, and
        may time-travel: its clauses rewrite like any query's), then
        rides the engine's evaluation unchanged: Spark plans the
        subquery as a semi/anti-join inside the row-match filter, so
        the delete/update stays fully distributed. For the uncorrelated
        whole-clause ``col IN (SELECT ...)`` form, the subquery's
        min/max additionally seed a stats-interval file prune — the
        text-constraint extractor is rightly blind to subqueries, but a
        key-set delete only ever touches files overlapping the keys'
        range (at scale this is the difference between rewriting DVs on
        every file and on the few the staging keys land in). Returns
        ``(condition_text, prune_region_or_None)``."""
        if not _SUBQUERY_RE.search(cond):
            return cond, None
        self._refresh()
        cond = self._time_travel_views(cond)
        m = _IN_SUBQ_RE.match(cond)
        if not m:
            return cond, None
        from pyspark.sql import functions as F

        sub = self.spark.sql(m.group("sub"))
        scol = sub.columns[0]
        row = sub.agg(
            F.min(scol).alias("lo"), F.max(scol).alias("hi")
        ).first()
        if row.lo is None:  # empty/all-NULL key set: IN matches nothing
            return cond, None
        return cond, [{m.group("col"): (row.lo, row.hi)}]

    def _refresh(self) -> None:
        """Re-point every registered snapshot view at its table's
        current (or txn-staged) version, then re-materialize named views
        in creation order (so views may reference earlier views)."""
        for name in self._tables:
            self._register(name)
        for vname, q in self._views.items():
            self.spark.sql(
                f"CREATE OR REPLACE TEMPORARY VIEW {vname} AS "
                f"{self._time_travel_views(q)}"
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
        # The data-source reader pins current_version(path) at instance
        # creation when no version option is passed (snapshot_datasource
        # .py), so the view's pin is fully determined by (path, resolved
        # version, that manifest's identity). Re-resolving that pin in
        # this process (a pointer-file and a manifest read) and SKIPPING
        # the reload when it did not move makes _refresh O(changed
        # tables) instead of one Python-data-source load() — a Python
        # worker round-trip for schema resolution — per registered table
        # per statement: a multi-table session previously re-paid every
        # table's load on every DML. The identity is the manifest's
        # commit stamp: a table dropped and recreated at the same path
        # can reach the same version number, and must not keep serving
        # the old table's view.
        from .snapshots import _manifest_path, current_version

        v = current_version(path) if version is None else version
        try:
            ts = json.loads(_manifest_path(path, v).read_text()).get("ts")
        except FileNotFoundError:
            ts = None  # the load below fails loudly on a missing version
        pin = (str(path), v, ts)
        if (
            self._pinned.get(name) == pin
            and self.spark.catalog.tableExists(name)
        ):
            return
        reader = self.spark.read.format("snapshot").option("path", path)
        if version is not None:
            reader = reader.option("version", str(version))
        reader.load().createOrReplaceTempView(name)
        self._pinned[name] = pin
