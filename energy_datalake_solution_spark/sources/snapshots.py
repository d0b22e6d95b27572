"""Version-manifest table format: snapshot isolation on plain parquet.

The reference's warehouse (Redshift) gives it transactional upserts for
free; the Spark-first equivalent is a table FORMAT (Delta/Iceberg), whose
core mechanism — readers resolve a manifest, never list directories — is
~100 lines. ``delta-spark`` is not importable in this environment
(sources/merge.py documents the check), so this module implements that
core directly, which also makes the semantics inspectable:

  * every write creates parquet files under ``data/`` plus an immutable
    manifest ``_manifests/v{N}.json`` listing EXACTLY the files that make
    up version N;
  * ``_latest`` is a one-line pointer file swapped with ``os.replace``
    (atomic on POSIX) — a reader that resolved a manifest keeps a
    consistent snapshot no matter what writers do afterwards, because
    data files are never mutated or deleted by commits (only by an
    explicit vacuum of unreferenced files);
  * time travel = read an older manifest; rollback = re-point ``_latest``
    at an older manifest (an O(1) metadata operation, no data copied).

At 100 TB the mechanism is unchanged — manifests hold file lists AND
per-file min/max column stats (snapshot_write's ``stats_cols`` collects
them from the parquet footers at commit; snapshot_files and
snapshot_read(where=...) prune files against them and the per-file Bloom
filters before Spark ever lists a path); the pointer swap is the
only serialization point, exactly like Delta's ``_delta_log`` tail.
Multi-writer commits are OPTIMISTIC (Delta's documented protocol on a
LogStore with put-if-absent): the manifest hard-link is the
no-overwrite publish, the pointer check-and-swap is a locked critical
section that refuses to advance past a moved tip, and the writer
operations rebase-and-retry on SnapshotCommitConflict — concurrent
appends compose, overlapping upserts serialize by re-running their file
prune against the new parent (tests/test_snapshots.py two-writer
stress). Object stores WITHOUT atomic link/replace would need an
external lock service, as Delta needs a LogStore there.

Capability parity demonstrated (tests/test_snapshots.py): atomic replace,
append, STATS-PRUNED keyed upsert (only files whose key range a batch
touches rewrite; carried files stay byte-identical), stats-pruned
copy-on-write range DELETE, per-file Bloom filters for point-lookup file
skipping on unsorted columns, reader isolation across a concurrent
commit, time travel, rollback, vacuum safety (including files shared
across pruned-upsert versions), commit-collision detection, exactly-once
streaming appends, and stats-pruned keyed reads that provably lose no
rows.
"""

from __future__ import annotations

import functools
import json
import os
import re
import threading
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_MANIFEST_DIR = "_manifests"
_LATEST = "_latest"

# Delta-manifest cadence (Delta Lake's log + parquet-checkpoint shape):
# a commit whose parent is within CHECKPOINT_EVERY-1 delta hops of a full
# (checkpoint) manifest writes only its CHANGES — {add, remove,
# stats/blooms/dv set+del} — so commit metadata is O(change), not
# O(table files); every CHECKPOINT_EVERY-th commit in a chain
# materializes the full state so readers never fold more than
# CHECKPOINT_EVERY-1 deltas past a checkpoint parse. At 100 TB with 10^5
# files this is the difference between every commit serializing the whole
# file list (plus per-file stats, blooms and deletion vectors) and a
# commit that writes kilobytes for a kilobyte-sized change.
CHECKPOINT_EVERY = 8

# Checkpoints at or above this many files encode their per-file state
# (file list + stats/blooms/dv) as a PARQUET SIDECAR instead of inline
# JSON — Delta's parquet-checkpoint design. At 10^6 files an inline JSON
# checkpoint is ~100 MB of text to serialize and parse; the columnar
# sidecar is ~10x smaller and parses through Arrow. Small tables keep
# inline JSON (human-readable manifests are worth more than bytes
# there). The sidecar is written BEFORE the manifest hard-link publishes
# (a lost race orphans it; vacuum reclaims unreferenced sidecars).
CKPT_PARQUET_MIN_FILES = 64

# Optimistic concurrency (Delta's documented LogStore protocol): _commit
# NEVER overwrites — a lost race raises SnapshotCommitConflict — and every
# table-mutating operation REBASES on conflict through one loop,
# _transact: re-read the new tip, re-validate what it assumed about the
# table (appends assume nothing; upserts/deletes re-run their file prune
# against the new parent), and re-commit. Bounded attempts: a table under
# genuinely sustained write contention should serialize its writers
# upstream, not spin here.
COMMIT_RETRIES = 5

# Explicit-clear sentinel for _commit's schema_meta / constraints_meta:
# None means INHERIT from the parent manifest (the right default for
# ordinary writes on a mapped/constrained table), so restoring a version
# that PREDATES the metadata needs a distinct way to say "commit with no
# schema/constraints at all".
CLEAR_METADATA = object()


class SnapshotCommitConflict(RuntimeError):
    """A concurrent writer committed this version first. The raising
    writer's manifest (if linked) is an unreachable orphan; its data
    files are unreferenced garbage for vacuum. Retry against the new
    tip — every snapshot mutation does so automatically, up to
    COMMIT_RETRIES times."""


class SnapshotConstraintViolation(ValueError):
    """A write batch contains a row for which a table CHECK constraint
    evaluates to FALSE (SQL semantics: NULL satisfies — add an explicit
    IS NOT NULL term for NOT NULL enforcement). The offending constraint
    and one violating row are in the message; nothing was committed."""


_LOCK = "_commit.lock"
_LOCK_STALE_SECS = 60.0
_LOCK_WAIT_SECS = 10.0


def _acquire_pointer_lock(table_path: Path) -> "tuple[Path, str]":
    """O_CREAT|O_EXCL lock guarding the pointer check-and-swap — the one
    critical section in the commit protocol. Without it a writer that
    read parent=N could swap the pointer AFTER a racer advanced it to
    N+1, silently dropping the racer's files from the chain (the pointer
    swap itself has no compare-and-swap on POSIX). The section is two
    metadata ops (~µs), so contention is resolved by a short spin; a
    lock older than _LOCK_STALE_SECS is a crashed holder and is broken.

    The lock is FENCED with an owner token (pid + uuid, written into the
    lock file): (1) breaking a stale lock is an atomic rename to a
    unique name, so when two waiters both judge it stale exactly ONE
    wins the break — the naive unlink let both "succeed" and the second
    unlink could even remove a third writer's fresh lock; (2) the holder
    re-verifies its token immediately before the pointer swap
    (_verify_pointer_lock), so a stalled-but-alive holder whose lock was
    broken past the stale deadline fails LOUDLY with a conflict instead
    of racing the breaker inside the critical section. Returns the lock
    path and this holder's token."""
    import time

    lock = table_path / _LOCK
    token = f"{os.getpid()}:{uuid.uuid4().hex}"
    deadline = time.time() + _LOCK_WAIT_SECS
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            try:
                os.write(fd, token.encode())
            finally:
                os.close(fd)
            return lock, token
        except FileExistsError:
            try:
                age = time.time() - lock.stat().st_mtime
            except FileNotFoundError:
                continue  # holder just released — retry immediately
            if age > _LOCK_STALE_SECS:
                # atomic rename: exactly one breaker wins (the loser's
                # rename raises FileNotFoundError); the winner removes
                # the renamed corpse and retries acquisition. A fresh
                # lock created between stat and rename is NEVER removed
                # — rename moves whatever file is at the path, and a
                # fresh holder's lock only gets moved if it reused the
                # path within the same race window the O_EXCL loop
                # already retries through.
                corpse = table_path / f"{_LOCK}.broken.{uuid.uuid4().hex}"
                try:
                    os.rename(lock, corpse)
                except FileNotFoundError:
                    continue  # another breaker (or the holder) won
                corpse.unlink(missing_ok=True)
                continue
            if time.time() > deadline:
                raise SnapshotCommitConflict(
                    f"commit lock {lock} held past {_LOCK_WAIT_SECS}s"
                )
            time.sleep(0.005)


def _verify_pointer_lock(lock: Path, token: str) -> None:
    """Fencing check: the critical section's final write may only proceed
    if this holder STILL owns the lock. A holder stalled past
    _LOCK_STALE_SECS (GC pause, NFS stall) whose lock was broken — and
    possibly re-acquired by another writer — raises a conflict here, so
    two writers can never both reach the pointer swap believing they
    hold the section."""
    try:
        if lock.read_text() == token:
            return
    except FileNotFoundError:
        pass
    raise SnapshotCommitConflict(
        f"pointer lock {lock} was broken while held (stalled past "
        f"{_LOCK_STALE_SECS}s?) — the critical section is no longer "
        "exclusively owned; retry the operation"
    )


def _release_pointer_lock(lock: Path, token: str) -> None:
    """Release only if still the owner: a resumed holder whose lock was
    broken and re-acquired must not unlink the NEW owner's lock."""
    try:
        if lock.read_text() == token:
            lock.unlink(missing_ok=True)
    except FileNotFoundError:
        pass


def _table(path) -> Path:
    p = Path(path)
    (p / _MANIFEST_DIR).mkdir(parents=True, exist_ok=True)
    (p / "data").mkdir(parents=True, exist_ok=True)
    return p


def current_version(table_path) -> int:
    """Latest committed version, or 0 if the table is empty. Inside an
    active SnapshotTransaction, a table this transaction already staged
    reports its STAGED version — operations within one transaction chain
    on each other while the published pointer stays untouched until the
    all-or-nothing swap."""
    txn = getattr(_TXN_LOCAL, "active", None)
    if txn is not None:
        sv = txn._staged_version(table_path)
        if sv is not None:
            return sv
    p = Path(table_path) / _LATEST
    if not p.exists():
        return 0
    return int(p.read_text().strip())


def _manifest_path(table_path, version: int) -> Path:
    return Path(table_path) / _MANIFEST_DIR / f"v{version}.json"


def _write_files(df: DataFrame, table_path: Path) -> list[str]:
    """Materialize df as parquet files under data/<uuid>/ and return their
    table-relative paths. The directory is unique per commit attempt, so a
    failed commit leaves only unreferenced garbage (vacuum removes it) —
    never a corrupt table."""
    commit_dir = f"data/{uuid.uuid4().hex}"
    out = table_path / commit_dir
    df.write.parquet(str(out))
    return [
        f"{commit_dir}/{f}"
        for f in os.listdir(out)
        if f.endswith(".parquet")
    ]


def _max_manifest_version(table_path: Path) -> int:
    """Highest manifest version ON DISK (not the pointer): orphan manifests
    left by a rollback or by a crash between manifest write and pointer
    swap must never block the next commit's version allocation."""
    versions = [
        int(f.stem[1:])
        for f in (table_path / _MANIFEST_DIR).glob("v*.json")
    ]
    return max(versions, default=0)


def _commit(
    table_path: Path,
    files: list[str],
    parent: int,
    txn: int | None = None,
    txn_app: str | None = None,
    txns_extra: dict | None = None,
    stats: dict | None = None,
    blooms: dict | None = None,
    dv: dict | None = None,
    op: str | None = None,
    schema_meta: dict | None = None,
    constraints_meta: dict | None = None,
    types_meta: dict | None = None,
    partitioning_meta: dict | None = None,
    bucketing_meta: dict | None = None,
    properties_meta: dict | None = None,
) -> int:
    """Publish a manifest and advance the pointer. A version listing no
    files on an unmapped table records the reader schema it reads as
    (:func:`_empty_types`), on this version only.

    Concurrency contract (optimistic, Delta-LogStore-shaped): the
    manifest publish is a hard-link (atomic, no-overwrite — a
    same-version race loses loudly, never clobbers), and the pointer
    swap runs in a locked critical section that verifies the tip still
    equals this commit's ``parent`` — if any other writer advanced it in
    between, the commit RAISES SnapshotCommitConflict. Its manifest
    stays on disk as an orphan branch: the later writer is never
    silently un-published, a lost race is never reported as success, and
    a stale-parent manifest (whose file list would omit the winner's
    files) can never become the tip. Every table-mutating operation
    commits through :func:`_transact`, which catches the conflict and
    REBASES: re-read the tip, re-derive the file list against it,
    re-commit — appends compose, overlapping upserts/deletes serialize by
    re-running their prune.
    """
    # allocate ABOVE any manifest on disk, not just parent+1 — after a
    # rollback (pointer < max version) or an interrupted commit (manifest
    # without pointer), parent+1 may already exist and must be skipped
    version = max(parent, _max_manifest_version(table_path)) + 1
    parent_resolved: dict | None = None
    if parent:
        try:
            parent_resolved = _read_manifest(table_path, parent)
        except FileNotFoundError:
            parent_resolved = None
    manifest: dict = {"version": version, "parent": parent, "txn": txn}
    # operational metadata (DESCRIBE HISTORY parity): what produced this
    # version, and when — never load-bearing for correctness. n_files is
    # stored explicitly so history stays metadata-only for delta
    # manifests (their file list only exists after resolution).
    if op is not None:
        manifest["op"] = op
    import math
    import time as _time

    # floored to the millisecond, never rounded up: a TIMESTAMP AS OF
    # taken right after the commit returns must find this version
    now = _time.time()
    manifest["ts"] = min(math.floor(now * 1000) / 1000, now)
    manifest["n_files"] = len(files)
    if txn_app is not None:
        manifest["txn_app"] = txn_app
    # carry the per-app latest-txn MAP forward into every manifest (the
    # analogue of Delta's SetTransaction actions): last_txn reads ONLY the
    # latest manifest, so vacuuming old manifests — including another
    # app's commit that sat between this app's stamp and the tail — can
    # never lose a namespace's replay protection
    txns: dict[str, int] = {}
    if parent_resolved is not None:
        txns = dict(parent_resolved.get("txns", {}))
        # fold the parent's own PRE-MAP stamp in too: an upgraded
        # table's newest legacy commit must not be shadowed the moment
        # the first map-carrying commit lands on top of it
        if parent_resolved.get("txn") is not None:
            pkey = (
                parent_resolved.get("txn_app")
                if parent_resolved.get("txn_app") is not None
                else ""
            )
            txns[pkey] = max(int(parent_resolved["txn"]), txns.get(pkey, -1))
    if txn is not None:
        key = txn_app if txn_app is not None else ""
        txns[key] = max(int(txn), txns.get(key, -1))
    if txns_extra:
        # multi-stamp commit (COPY INTO's per-source-file ledger): fold
        # every (app, id) pair with the same max-wins rule
        for key, t in txns_extra.items():
            txns[key] = max(int(t), txns.get(key, -1))
    if txns:
        manifest["txns"] = txns
    # Delta vs checkpoint: a commit within the cadence writes only its
    # diff against the parent's RESOLVED state (O(change) metadata); the
    # first commit of a chain, a commit whose parent manifest is gone,
    # and every CHECKPOINT_EVERY-th hop write the full state.
    new_stats = stats or {}
    new_blooms = blooms or {}
    new_dv = dv or {}
    # column-mapping schema metadata (Delta's columnMapping): inherited
    # from the parent unless this commit changes it; delta manifests
    # store it only on change (resolution inherits), checkpoints always
    schema = (
        None
        if schema_meta is CLEAR_METADATA
        else schema_meta
        if schema_meta is not None
        else (parent_resolved or {}).get("schema")
    )
    # table constraints (Delta's CHECK constraints): same carry semantics
    # as the schema metadata — inherited unless this commit changes them
    constraints = (
        None
        if constraints_meta is CLEAR_METADATA
        else constraints_meta
        if constraints_meta is not None
        else (parent_resolved or {}).get("constraints")
    )
    # widened logical types (type-widening feature): same carry semantics
    types = (
        None
        if types_meta is CLEAR_METADATA
        else types_meta
        if types_meta is not None
        else (parent_resolved or {}).get("types")
    )
    # current partition spec (partition-evolution feature): same carry
    # semantics — the spec governs how NEW files route; existing files
    # stay readable under whatever point stats they were written with
    partitioning = (
        None
        if partitioning_meta is CLEAR_METADATA
        else partitioning_meta
        if partitioning_meta is not None
        else (parent_resolved or {}).get("partitioning")
    )
    # bucketed layout spec (bucket-join feature): same carry semantics.
    # Writers that add non-bucket-named files leave the spec in place —
    # the bucketed VIEW validates file names at registration and fails
    # loudly, never silently mis-buckets
    bucketing = (
        None
        if bucketing_meta is CLEAR_METADATA
        else bucketing_meta
        if bucketing_meta is not None
        else (parent_resolved or {}).get("bucketing")
    )
    # user table properties (Delta's TBLPROPERTIES): same carry semantics
    properties = (
        None
        if properties_meta is CLEAR_METADATA
        else properties_meta
        if properties_meta is not None
        else (parent_resolved or {}).get("properties")
    )
    if not files and not schema:
        empty_types = types or _empty_types(
            table_path, parent, parent_resolved
        )
        if empty_types:
            manifest["empty_types"] = empty_types
    parent_dist = (
        int(parent_resolved.get("ckpt_dist", 0)) if parent_resolved else 0
    )
    if parent_resolved is not None and parent_dist + 1 < CHECKPOINT_EVERY:
        old_set = set(parent_resolved["files"])
        new_set = set(files)
        delta: dict = {
            "add": sorted(new_set - old_set),
            "remove": sorted(old_set - new_set),
        }
        for name, new_map in (
            ("stats", new_stats), ("blooms", new_blooms), ("dv", new_dv)
        ):
            old_map = parent_resolved.get(name, {}) or {}
            changed = {k: v for k, v in new_map.items() if old_map.get(k) != v}
            dropped = sorted(k for k in old_map if k not in new_map)
            if changed:
                delta[f"{name}_set"] = changed
            if dropped:
                delta[f"{name}_del"] = dropped
        manifest["delta"] = delta
        manifest["ckpt_dist"] = parent_dist + 1
        if schema != parent_resolved.get("schema"):
            manifest["schema"] = schema
        if constraints != parent_resolved.get("constraints"):
            manifest["constraints"] = constraints
        if types != parent_resolved.get("types"):
            manifest["types"] = types
        if partitioning != parent_resolved.get("partitioning"):
            manifest["partitioning"] = partitioning
        if bucketing != parent_resolved.get("bucketing"):
            manifest["bucketing"] = bucketing
        if properties != parent_resolved.get("properties"):
            manifest["properties"] = properties
    else:
        manifest["ckpt_dist"] = 0
        if schema:
            manifest["schema"] = schema
        if constraints:
            manifest["constraints"] = constraints
        if types:
            manifest["types"] = types
        if partitioning:
            manifest["partitioning"] = partitioning
        if bucketing:
            manifest["bucketing"] = bucketing
        if properties:
            manifest["properties"] = properties
        if len(files) >= CKPT_PARQUET_MIN_FILES:
            manifest["ckpt_parquet"] = _write_ckpt_sidecar(
                table_path, version, sorted(files), new_stats, new_blooms, new_dv
            )
            manifest["n_files"] = len(files)
        else:
            manifest["files"] = sorted(files)
            if new_stats:
                manifest["stats"] = new_stats
            if new_blooms:
                manifest["blooms"] = new_blooms
            if new_dv:
                manifest["dv"] = new_dv
    mp = _manifest_path(table_path, version)
    tmp = mp.with_suffix(f".{uuid.uuid4().hex}.tmp")
    tmp.write_text(json.dumps(manifest, indent=1))
    try:
        # hard-link is the atomic NO-overwrite publish (os.replace would
        # silently clobber a racing writer's manifest — lost commit);
        # whichever writer links first wins, the loser raises
        os.link(tmp, mp)
    except FileExistsError:
        raise SnapshotCommitConflict(
            f"version {version} already committed (concurrent writer)"
        ) from None
    finally:
        tmp.unlink(missing_ok=True)
    txn_active = getattr(_TXN_LOCAL, "active", None)
    if txn_active is not None:
        # transactional write: the manifest is published (the hard-link
        # above reserved the version slot atomically, so same-version
        # races still lose loudly) but the POINTER stays untouched — the
        # transaction swaps every table's pointer together at exit, or
        # none at all
        txn_active._stage(Path(table_path), parent, version)
        return version
    lock, lock_token = _acquire_pointer_lock(Path(table_path))
    try:
        cur = current_version(table_path)
        if cur != parent:
            # the tip moved since this writer read its parent — another
            # writer won the race. Swapping now would either REGRESS the
            # pointer or (worse) advance it onto a manifest whose file
            # list silently omits the winner's files: the lost-update
            # case the optimistic protocol exists to prevent. RAISE so
            # the caller knows its rows are NOT in the table and rebases;
            # its manifest stays on disk as an orphan branch for vacuum.
            raise SnapshotCommitConflict(
                f"pointer moved {parent} -> {cur} during commit of "
                f"version {version} (concurrent writer won the race); "
                "this commit is an orphan manifest — retry the operation "
                "against the current version"
            )
        _verify_pointer_lock(lock, lock_token)  # fencing: still the owner?
        ltmp = Path(table_path) / f"{_LATEST}.{uuid.uuid4().hex}.tmp"
        ltmp.write_text(str(version))
        os.replace(ltmp, Path(table_path) / _LATEST)  # pointer swap, atomic
    finally:
        _release_pointer_lock(lock, lock_token)
    return version


def _transact(p: Path, attempt, *, txn: int | None = None,
              txn_app: str | None = None, create: bool = False) -> int:
    """The one optimistic-commit loop behind every snapshot mutation
    (Delta's protocol): each round reads the tip ``parent`` and its
    resolved manifest ``m`` and returns ``attempt(parent, m)``, which
    derives everything it commits from that tip and commits against
    ``parent``. A SnapshotCommitConflict means another writer moved the
    tip; the next round re-reads it and the attempt re-derives — re-runs
    its prune and rewrite, or recommits the files it already wrote onto
    the new tip's. The conflict re-raises after COMMIT_RETRIES rounds.

    A table with no version refuses unless ``create`` (writers whose
    first commit creates the table; their attempt sees ``m == {}``).
    With ``txn``, a tip already stamped (``txn_app``, ``txn`` or later)
    means this batch landed — a replay, possibly the racer that beat the
    last round — so the tip returns without attempting."""
    for n in range(COMMIT_RETRIES):
        parent = current_version(p)
        if parent == 0 and not create:
            raise FileNotFoundError(f"no snapshot table at {p}")
        m = _read_manifest(p, parent) if parent else {}
        if txn is not None and _txn_stamp(m, txn_app) >= int(txn):
            return parent
        try:
            return attempt(parent, m)
        except SnapshotCommitConflict:
            if n == COMMIT_RETRIES - 1:
                raise


def _empty_types(p: Path, parent: int, m: dict | None) -> dict | None:
    """The {column: type} an unmapped table's version listing no files
    reads as, from its ``parent`` version, resolved as ``m`` (None when
    there is none on disk): an unmapped table keeps its schema
    only in file footers, so every commit that empties it (a truncate, a
    purge or delete that leaves no file) records the reader schema at
    hand (the parent's own empty_types, else the widened types map, else
    the first footer of the nearest version listing files) for the empty
    version to stay readable once vacuum removes those files. None when
    no ancestor is left to read."""
    if m is None:
        return None
    listed = _nearest_listed_ancestor(p, parent)
    return m.get("empty_types") or (listed and (
        listed.get("types")
        or _footer_sweep(None, Path(p), listed["files"][:1],
                         _file_footer_types)[0]
    )) or None


def _recommit(p: Path, parent: int, m: dict, op: str, **meta) -> int:
    """Commit ``m``'s files with their stats, blooms and deletion vectors
    unchanged on top of ``parent``: a metadata-only version whose only
    change is ``meta`` (_commit's metadata and txn keywords), or none —
    an auditable no-op."""
    return _commit(p, list(m.get("files", [])), parent,
                   stats=m.get("stats") or None,
                   blooms=m.get("blooms") or None,
                   dv=m.get("dv") or None, op=op, **meta)


def _txn_stamp(m: dict, txn_app: str | None) -> int:
    """The newest txn id manifest ``m`` records for writer namespace
    ``txn_app``: its carried ``txns`` map, else its own pre-map stamp;
    -1 when neither has one."""
    key = txn_app if txn_app is not None else ""
    if key in m.get("txns", {}):
        return int(m["txns"][key])
    if m.get("txn") is not None and m.get("txn_app") == txn_app:
        return int(m["txn"])
    return -1


_TXN_LOCAL = threading.local()


class SnapshotTransaction:
    """Multi-table TRANSACTION: every snapshot write performed inside the
    ``with`` block stages its manifests without touching any table's
    pointer; on exit the transaction swaps ALL pointers together or none
    (Iceberg's multi-table catalog commit, built on this format's
    fenced-lock pointer protocol).

        with SnapshotTransaction():
            snapshot_upsert(spark, batch_a, table_a, ["k"])
            snapshot_append(batch_b, table_b)
        # both visible, or neither

    Mechanics: inside the block, ``_commit`` publishes manifests as usual
    (the hard-link publish still reserves version slots atomically, so
    same-version races lose loudly at prepare time) but skips the pointer
    swap, recording (table, parent-at-first-touch, staged version);
    ``current_version`` reports staged versions to this thread, so
    operations chain within the transaction. At exit, pointer locks are
    acquired over all tables in canonical order, every tip is verified
    against its recorded parent BEFORE any swap — a moved tip aborts the
    whole transaction with SnapshotCommitConflict and every staged
    manifest stays an orphan branch (vacuum reclaims; callers rebase by
    rerunning the block) — then an INTENT record (the WAL) is written and
    the pointers swap one by one. A crash inside the swap window is
    rolled forward by :func:`snapshot_txn_recover` from the intent
    record: every remaining tip still equals its verified parent (the
    locks fence out other writers), so roll-forward is always safe.

    Scale shape: prepare does all the data work through the normal
    writers (stats-pruned, optimistic); the atomic section is N pointer
    swaps — O(tables), not O(data). One transaction per thread; nesting
    raises. An exception inside the block aborts cleanly (nothing was
    published to any pointer)."""

    def __enter__(self) -> "SnapshotTransaction":
        if getattr(_TXN_LOCAL, "active", None) is not None:
            raise RuntimeError("nested snapshot transactions unsupported")
        self.staged: dict[str, dict] = {}
        _TXN_LOCAL.active = self
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        _TXN_LOCAL.active = None  # BEFORE commit: verification reads the
        # real pointers, not this transaction's staged view
        if exc_type is not None:
            return False  # abort: no pointer was ever touched
        self._commit_all()
        return False

    # -- staging (called by _commit / current_version) ---------------------
    def _key(self, p) -> str:
        return str(Path(p).resolve())

    def _stage(self, p: Path, parent: int, version: int) -> None:
        k = self._key(p)
        if k in self.staged:
            self.staged[k]["version"] = version  # chained op: keep the
            # FIRST parent (the tip this transaction is conditioned on)
        else:
            self.staged[k] = {"parent": parent, "version": version}

    def _staged_version(self, p) -> int | None:
        e = self.staged.get(self._key(p))
        return e["version"] if e else None

    # -- the all-or-nothing swap -------------------------------------------
    def _commit_all(self) -> None:
        if not self.staged:
            return
        items = sorted(self.staged.items())  # canonical lock order: no
        # deadlock between two transactions over overlapping table sets
        locks: list = []
        intent: Path | None = None
        try:
            for key, e in items:
                lock, token = _acquire_pointer_lock(Path(key))
                locks.append((Path(key), lock, token, e))
            # verify EVERY tip before swapping ANY pointer — all-or-nothing
            for pth, lock, token, e in locks:
                cur = current_version(pth)
                if cur != e["parent"]:
                    raise SnapshotCommitConflict(
                        f"transaction aborted: {pth} moved "
                        f"{e['parent']} -> {cur} during prepare; staged "
                        "manifests are orphan branches — rerun the "
                        "transaction against the current tips"
                    )
            # intent WAL: written only after all parents verified under
            # locks, so roll-forward (snapshot_txn_recover) is always safe
            intent = Path(items[0][0]) / f"_txn_intent.{uuid.uuid4().hex}.json"
            intent.write_text(json.dumps([
                {"path": k, "parent": e["parent"], "version": e["version"]}
                for k, e in items
            ]))
            for pth, lock, token, e in locks:
                _verify_pointer_lock(lock, token)
                ltmp = pth / f"{_LATEST}.{uuid.uuid4().hex}.tmp"
                ltmp.write_text(str(e["version"]))
                os.replace(ltmp, pth / _LATEST)
            intent.unlink(missing_ok=True)
        finally:
            for pth, lock, token, e in locks:
                _release_pointer_lock(lock, token)


def snapshot_txn_recover(table_path) -> int:
    """Roll forward multi-table transactions interrupted inside their
    pointer-swap window: for each intent record in this table's
    directory, re-swap every member table whose tip still equals the
    intent's verified parent (under its pointer lock), then drop the
    record. Safe by construction — intents are written only after every
    parent was verified under locks, so a member tip is either the
    parent (swap) or already the staged version (done). Returns the
    number of pointers advanced."""
    n = 0
    for intent in sorted(Path(table_path).glob("_txn_intent.*.json")):
        try:
            entries = json.loads(intent.read_text())
        except (OSError, ValueError):
            continue  # another recoverer just finished it
        locks: list = []
        try:
            for e in sorted(entries, key=lambda x: x["path"]):
                lock, token = _acquire_pointer_lock(Path(e["path"]))
                locks.append((Path(e["path"]), lock, token, e))
            for pth, lock, token, e in locks:
                if current_version(pth) == e["parent"]:
                    _verify_pointer_lock(lock, token)
                    ltmp = pth / f"{_LATEST}.{uuid.uuid4().hex}.tmp"
                    ltmp.write_text(str(e["version"]))
                    os.replace(ltmp, pth / _LATEST)
                    n += 1
            intent.unlink(missing_ok=True)
        finally:
            for pth, lock, token, e in locks:
                _release_pointer_lock(lock, token)
    return n


# ---------------------------------------------------------------------------
# Type widening (Delta's typeWidening feature, manifest-recorded): an
# append/upsert whose batch carries a WIDER type than the standing files
# (int -> long, float -> double, and the smaller integer steps) commits
# without rewriting a byte — the manifest records the widened logical
# type per column in a ``types`` map and readers apply it as an explicit
# read schema (Spark 4's parquet reader performs the widening promotion
# per file, so INT32 files and INT64 files coexist under one bigint
# column). A batch NARROWER than the recorded type upcasts before
# writing, so the table's logical type is monotone. Incompatible changes
# (string -> int, long -> int) raise — widening is one-way by design.
# At 100 TB this is the difference between a metadata commit and a
# full-table rewrite when an id column outgrows int32.
# ---------------------------------------------------------------------------

_WIDEN_CHAINS = (("tinyint", "smallint", "int", "bigint"), ("float", "double"))


def _wider_type(a: str, b: str) -> str | None:
    """The wider of two Spark simpleString types along a widening chain,
    or None when no chain relates them (incompatible change)."""
    if a == b:
        return a
    for chain in _WIDEN_CHAINS:
        if a in chain and b in chain:
            return chain[max(chain.index(a), chain.index(b))]
    return None


def _merge_type_maps(a: dict | None, b: dict | None) -> dict | None:
    """Column-wise widest union of two type maps (rebase helper: a racer
    may have widened further while this writer was in flight)."""
    if not a:
        return dict(b) if b else None
    if not b:
        return dict(a)
    out = dict(a)
    for c, t in b.items():
        prev = out.get(c)
        out[c] = t if prev is None else (_wider_type(prev, t) or t)
    return out


def _types_ddl(types: dict) -> str:
    return ", ".join(f"`{c}` {t}" for c, t in types.items())


def _types_ddl_with_prov(types: dict) -> str:
    """Explicit read schema for file sets that may carry the reserved
    provenance columns and whose CALLER needs them (change-feed pairing):
    the widened map plus the prov columns, deduplicated in case a legacy
    map bootstrapped them in before _footer_types excluded them."""
    extra = [
        f"`{c}` {t}"
        for c, t in (("_prov_fp", "string"), ("_prov_ri", "bigint"))
        if c not in types
    ]
    return ", ".join([_types_ddl(types), *extra])


_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_sweep(spark: SparkSession | None, p: Path, rels: list[str], fn) -> list:
    """``[fn(path) for each file ref]``, the path being the ref joined
    to the table root (Path-join semantics: a shallow clone's ABSOLUTE
    inherited refs stay as they are). A driver loop up to
    _DRIVER_STATS_MAX_FILES files (or any number when ``spark`` is
    None); above that one Spark job, a task per ~32 files, so the
    driver folds only per-file results and never a linear chain of
    remote footer round-trips. ``fn`` then runs on executors: it must
    stay session-free (pure pyarrow)."""
    root = str(p)

    def run(rel: str):
        return fn(rel if os.path.isabs(rel) else f"{root}/{rel}")

    if spark is not None and len(rels) > _DRIVER_STATS_MAX_FILES:
        return (
            spark.sparkContext.parallelize(rels, max(1, len(rels) // 32))
            .map(run)
            .collect()
        )
    return [run(rel) for rel in rels]


@functools.lru_cache(maxsize=65536)
def _written_schema(abs_path: str):
    """The StructType Spark recorded in one parquet file's footer when it
    wrote the file (its row-metadata key), which is the schema Spark's
    own inference returns for that file; None for files other writers
    made (the Python data source writer, INT96 or nanosecond files from
    other tools), or a type this pyspark cannot name. Cacheable forever:
    data files are immutable; every caller shares the one StructType, so
    none may mutate it. Executor-safe (pure pyarrow, no session)."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    written = (pq.read_schema(abs_path).metadata or {}).get(_SPARK_ROW_METADATA)
    if not written:
        return None
    try:
        return StructType.fromJson(json.loads(written))
    except (ValueError, KeyError, TypeError):
        return None


def _file_footer_types(path: str) -> dict:
    """One file's {column: Spark type} from its parquet footer — the
    per-task unit of the distributed type sweep (executor-safe: pure
    pyarrow, no session). A Spark-written footer records the schema it
    wrote under its row-metadata key, which is authoritative: the
    parquet types alone cannot tell ``timestamp_ntz`` from
    ``timestamp`` (both are 64-bit timestamps; pyarrow reads the naive
    one as ``timestamp``). Files other writers made fall back to the
    arrow schema."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    schema = _written_schema(os.path.abspath(path)) or from_arrow_schema(
        pq.read_schema(path)
    )
    return {
        f.name: f.dataType.simpleString()
        for f in schema.fields
        if f.name not in _PROV_COLS
    }


def _footer_types(p: Path, rels: list[str], spark: SparkSession | None = None) -> dict:
    """Widest per-column Spark type across the files' parquet footers
    (metadata-only reads). Used ONCE to bootstrap the manifest's
    ``types`` map when the first widening batch arrives on a table that
    predates the feature; after that the manifest is the authority.
    Sweeps larger than _DRIVER_STATS_MAX_FILES distribute the footer
    reads as a Spark job (same bound as the stats collector) — the
    driver folds only column-count-sized per-file dicts, so the
    bootstrap stays bounded on a version listing arbitrarily many
    files."""
    per_file = _footer_sweep(spark, p, rels, _file_footer_types)
    out: dict = {}
    for types in per_file:
        for name, t in types.items():
            prev = out.get(name)
            out[name] = t if prev is None else (_wider_type(prev, t) or t)
    return out


def _apply_type_widening(
    df: DataFrame, p: Path, m: dict
) -> tuple[DataFrame, dict | None]:
    """Reconcile a write batch's types with the table's: returns the
    (possibly upcast) batch and the ``types`` map to stamp into the
    commit, or None when the parent's map (possibly absent) carries
    forward unchanged. Zero-cost fast path: a batch whose types match
    the table's does a single-footer probe and no metadata appears."""
    from pyspark.sql import functions as F

    batch = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    recorded = m.get("types")
    if recorded is None:
        files = m.get("files", [])
        if not files:
            return df, None
        probe = _footer_types(p, files[:1])
        # the fast path requires the column SETS to match, not just the
        # shared columns' types: a missing column must not default to
        # "matching" — an ADDITIVE batch that slipped through here wrote
        # its new column into files no read could see (the map never
        # stamped, so reads kept the old footer schema and silently
        # dropped the column's data), and a NARROW batch left files
        # whose width drift no metadata recorded
        if set(batch) == set(probe) and all(
            batch[c] == t for c, t in probe.items()
        ):
            return df, None  # no drift at all: stay metadata-free
        recorded = _footer_types(p, files, spark=df.sparkSession)
    changed = m.get("types") is None  # bootstrapped map must be stamped
    out_types = dict(recorded)
    casts: dict = {}
    for col, bt in batch.items():
        st = out_types.get(col)
        if st is None:
            out_types[col] = bt  # additive column joins the map
            changed = True
            continue
        if st == bt:
            continue
        w = _wider_type(st, bt)
        if w is None:
            raise ValueError(
                f"incompatible type change for column {col!r}: table has "
                f"{st}, batch has {bt} — only widening along "
                f"{_WIDEN_CHAINS} is supported"
            )
        if w != st:
            out_types[col] = w  # the batch widened the table
            changed = True
        if w != bt:
            casts[col] = w  # the batch is narrower: upcast before write
    if casts:
        df = df.select(
            *[
                F.col(c).cast(casts[c]).alias(c) if c in casts else F.col(c)
                for c in df.columns
            ]
        )
    return df, (out_types if changed else None)


def snapshot_widen_column(
    spark: SparkSession, table_path, col: str, new_type: str
) -> int:
    """``ALTER TABLE t ALTER COLUMN c TYPE <wider>`` — PROACTIVE type
    widening as an O(1) metadata commit (Delta's type-widening DDL; the
    implicit form — a wider write batch — already rides
    _apply_type_widening). The widened type lands in the ``types`` map
    (reads cast existing narrow files up; later narrow batches upcast
    on write) and, on a mapped table, in the schema's declared column
    type. Only widening along the documented chains is accepted;
    narrowing and cross-chain changes refuse (they would corrupt
    standing data) — the guard compares against the WIDER of the
    declared schema type and the recorded types-map entry, so a table
    already implicitly widened by a wide batch cannot be narrowed back
    through this DDL. IDENTITY / GENERATED columns refuse — their
    allocation grids and expression types are declared at birth."""
    p = _table(table_path)
    nt = new_type.strip().lower()
    footer_cache: dict = {}  # frozenset(files) -> sweep; retries reuse it

    def attempt(parent, m):
        if m.get("bucketing"):
            raise ValueError(
                f"cannot widen {col!r} on a bucketed table: the "
                "registered CLUSTERED BY view reads the spec's frozen "
                "schema DDL, which a type change would silently stale — "
                "rewrite through snapshot_write(..., bucket_by=...) instead"
            )
        sch = m.get("schema")
        pcol, declared = col, None
        if sch:
            # resolve through the schema case-insensitively (Spark's
            # identifier semantics); _mapping_physical's exact-match
            # lookup would KeyError on an unknown or re-cased name
            # before the unknown-column ValueError below could fire
            entry = next(
                (c for c in sch["cols"] if c["name"].lower() == col.lower()),
                None,
            )
            if entry is None:
                raise ValueError(f"unknown column {col!r}")
            if entry.get("identity") is not None or entry.get("generated") is not None:
                raise ValueError(
                    f"cannot widen {col!r}: IDENTITY/GENERATED "
                    "column types are declared at birth"
                )
            pcol, declared = entry["physical"], entry["type"].lower()
        recorded = m.get("types")
        if recorded is None:
            files = m.get("files", [])
            key = frozenset(files)
            if key not in footer_cache:
                # footers are immutable, so the sweep caches across
                # commit-conflict retries (only a racer that CHANGED
                # the file set forces a re-read)
                footer_cache[key] = (
                    _footer_types(p, files, spark=spark) if files else {}
                )
            recorded = footer_cache[key]
        # current authoritative type: the WIDER of declared and recorded
        # (a wide batch widens only the types map, not the declaration)
        stamped = (recorded.get(pcol) or "").lower() or None
        if declared is not None and stamped is not None:
            cur = _wider_type(declared, stamped) or declared
        else:
            cur = declared or stamped
        if cur is None:
            raise ValueError(f"unknown column {col!r}")
        if _wider_type(cur, nt) != nt:
            raise ValueError(
                f"ALTER COLUMN {col} TYPE {new_type}: only widening "
                f"along {_WIDEN_CHAINS} is supported (current: {cur})"
            )
        new_types = dict(recorded)
        new_types[pcol] = nt
        new_schema = None
        if sch:
            new_schema = json.loads(json.dumps(sch))
            for c in new_schema["cols"]:
                if c["name"].lower() == col.lower():
                    c["type"] = nt
        if new_types == (m.get("types") or {}) and (
            new_schema is None or new_schema == sch
        ):
            return parent  # already that wide everywhere: true no-op
        return _recommit(p, parent, m, "widen-column",
                         types_meta=new_types, schema_meta=new_schema)

    return _transact(p, attempt)


def _prep_replace_batch(df: DataFrame, p, tip: int, m_tip: dict) -> DataFrame:
    """Shared prelude of the row-creating FULL-REPLACE writer
    (snapshot_write, every layout): enforce constraints, then on mapped
    tables materialize write defaults and generated columns, map logical
    names to their frozen physical names, and apply the declared-type
    discipline (the first write into an empty-DDL table must not freeze
    a bare SQL literal's narrower physical type; void columns always
    cast).
    IDENTITY tables must be routed or refused by the CALLER before this
    runs — allocation needs replace_where's rebase loop, which a
    file-reusing full-replace rebase cannot provide."""
    _enforce_constraints(df, p, tip)
    sch = m_tip.get("schema") if tip else None
    if not sch:
        return df
    df = _materialize_wdefaults(df, sch)
    df = _materialize_generated(df, sch)
    df = _df_to_physical(df, sch)  # mapped table: logical -> physical
    from pyspark.sql import functions as F

    declared = {c["physical"]: c["type"] for c in sch["cols"]}
    first_write = not m_tip.get("files")
    return df.select(*[
        F.col(c).cast(declared[c]).alias(c)
        if c in declared and (
            first_write or dict(df.dtypes)[c] == "void"
        )
        else F.col(c)
        for c in df.columns
    ])


def snapshot_write(
    df: DataFrame,
    table_path,
    *,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    n_files: int | None = None,
    zorder_by: list[str] | None = None,
    bucket_by: "tuple[str, int] | None" = None,
    partition_by: list[str] | None = None,
) -> int:
    """Commit df as a full-replace new version; returns the version.

    One file layout per call:

    * none: one file per partition of ``df``;
    * ``n_files`` with ``stats_cols``: a range split on ``stats_cols[0]``
      (disjoint per-file key ranges are what make the stats selective);
      ``n_files`` alone: a round-robin split;
    * ``zorder_by``: the Morton curve over those columns into ``n_files``
      (default 8) files — Delta's OPTIMIZE ZORDER BY (c1, ..., cN), so
      snapshot_read(where=...) prunes on any predicate subset
      (the arrangement is sources/sinks.py::zorder_arrange_n);
    * ``bucket_by=(col, n)``: Spark's bucketed file layout, with the spec
      recorded — two tables bucketed the same way join with NO Exchange
      through :func:`snapshot_bucketed_table`; appends honor the spec,
      and rewriting through this call restores a layout that MOR
      writers broke. Column-mapped tables refuse (bucket metadata binds
      physical names to the join attribute);
    * ``partition_by``: one file set per partition-value tuple, with the
      spec recorded (LOGICAL names) — the write behind partitioned CTAS;
      later inserts route through the spec.

    Any other combination raises ValueError. The manifest records
    per-file min/max for ``stats_cols`` plus the z-order or partition
    columns (collected from the footers BEFORE the commit publishes) and
    Bloom filters for ``bloom_cols``; names are LOGICAL and are stored
    under their physical names on column-mapped tables.

    Write defaults and generated columns materialize BEFORE a z-order
    arrangement (clustering on a column the batch omits clusters its
    stored write-time value); the shared prelude then enforces
    constraints and maps the batch to physical names. Identity tables
    route to :func:`snapshot_replace_where` with ``condition=None``
    (Delta's overwrite-into-identity-table) after the arrangement: its
    commit loop re-allocates ids from each rebase attempt's fresh
    high-water mark, which this function's file-reusing rebase cannot
    do. Requested blooms then backfill through
    :func:`snapshot_analyze_blooms` — TWO commits (a reader between
    them sees the rows with no filters yet; blooms are pruning hints,
    so nothing is ever wrong, only momentarily unpruned). The bucket
    and partition layouts refuse identity tables."""
    layouts = [x for x in (zorder_by, bucket_by, partition_by) if x is not None]
    if len(layouts) > 1 or (n_files and layouts and zorder_by is None):
        raise ValueError(
            "snapshot_write takes one layout: n_files (optionally range "
            "split on stats_cols[0]), zorder_by [+ n_files], bucket_by "
            "or partition_by"
        )
    p = _table(table_path)
    tip = current_version(p)
    m_tip = _read_manifest(p, tip) if tip else {}
    sch = m_tip.get("schema") if tip else None
    if bucket_by is not None and sch:
        raise ValueError(
            "bucketed layout on column-mapped tables is unsupported"
        )
    if partition_by is not None and _identity_cols(sch):
        raise NotImplementedError(
            "partitioned CTAS replace over a GENERATED ALWAYS AS "
            "IDENTITY table is unsupported (the per-partition file "
            "routing has no per-rebase id allocation) — CTAS without "
            "PARTITIONED BY routes allocation through "
            "snapshot_replace_where, or DROP the table first"
        )
    # the layout's own columns always carry stats
    stats_cols = list(dict.fromkeys(
        [*(zorder_by or partition_by or ()), *(stats_cols or ())]
    ))

    def physical(cols):
        return [_mapping_physical(sch, c) for c in cols] if sch else list(cols)

    # arrange in LOGICAL space, before the identity route — the layout
    # is identical either way
    if zorder_by is not None:
        from .sinks import zorder_arrange_n

        df = _materialize_generated(_materialize_wdefaults(df, sch), sch)
        df = zorder_arrange_n(df, zorder_by, n_files=n_files or 8)
    elif n_files and stats_cols:
        df = df.repartitionByRange(n_files, stats_cols[0])
    elif n_files:
        df = df.repartition(n_files)
    if _identity_cols(sch):
        # route BEFORE enforcement — replace_where runs the full gate
        # itself (running it here too would double every LIMIT-1 job);
        # identity tables are always mapped, so stats go physical
        v = snapshot_replace_where(
            df.sparkSession, p, None, df,
            stats_cols=physical(stats_cols) or None,
        )
        if bloom_cols:
            return snapshot_analyze_blooms(df.sparkSession, p, bloom_cols)
        return v
    df = _prep_replace_batch(df, p, tip, m_tip)
    if partition_by is not None:
        try:
            pcols = physical(partition_by)
        except KeyError:
            raise ValueError(
                f"PARTITIONED BY names column(s) not in the replaced "
                f"table's column mapping (spec: {list(partition_by)}, "
                f"live: {[c['name'] for c in sch['cols']]})"
            ) from None
        missing = [
            c for c, pc in zip(partition_by, pcols) if pc not in df.columns
        ]
        if missing:
            raise ValueError(
                f"PARTITIONED BY names column(s) {missing} the CTAS query "
                "does not produce"
            )
    stats_cols = physical(stats_cols)
    bloom_cols = physical(bloom_cols or ())
    if bucket_by is not None:
        col, n = bucket_by
        files = _write_files_bucketed(df, p, col, n)
        # the schema DDL travels in the spec so registration needs no
        # footer read — and an EMPTY bucketed table still registers
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
        )
        op, bucketing = "write-bucketed", {"col": col, "n": n, "ddl": ddl}
    elif partition_by is not None:
        files = _write_files_by_partition(df, p, pcols, what="partitioned CTAS")
        op, bucketing = "write-part", CLEAR_METADATA
    else:
        files = _write_files(df, p)
        op, bucketing = "write", CLEAR_METADATA
    spark = df.sparkSession
    stats = _collect_stats(p, files, stats_cols, spark=spark) if stats_cols else None
    blooms = _collect_blooms(p, files, bloom_cols, spark) if bloom_cols else None
    partitioning = (
        {"cols": list(partition_by)} if partition_by is not None else None
    )
    # a full replace has no read-set: a conflict recommits the same files
    # onto the new tip. The widened-types map CLEARS — the new files'
    # footers are the honest schema, and inheriting the parent's stale
    # map would drop a column the batch added or mis-type a replaced one
    return _transact(p, lambda parent, m: _commit(
        p, files, parent, stats=stats, blooms=blooms, op=op,
        types_meta=CLEAR_METADATA, partitioning_meta=partitioning,
        bucketing_meta=bucketing,
    ), create=True)


def _carry_blooms(
    table_path: Path, parent_manifest: dict, kept: list[str], new_files: list[str]
) -> dict | None:
    """Bloom maintenance for incremental commits: carried files keep their
    (still-valid) filters; NEW files get filters built for every column
    the parent tracked — a commit must never silently strip the
    manifest's pruning metadata (the same invariant as stats carry)."""
    parent_blooms: dict = parent_manifest.get("blooms", {}) or {}
    cols = sorted({c for s in parent_blooms.values() for c in s})
    if not cols:
        return None
    blooms = {f: dict(parent_blooms[f]) for f in kept if f in parent_blooms}
    blooms.update(_collect_blooms(table_path, new_files, cols, None))
    return blooms or None


def snapshot_append(
    df: DataFrame,
    table_path,
    txn: int | None = None,
    txn_app: str | None = None,
    stats_cols: list[str] | None = None,
    txns_extra: dict | None = None,
) -> int:
    """Commit df's rows IN ADDITION to the current version's files — the
    new manifest lists old files + new files; no data is rewritten.
    ``txn`` stamps the manifest with a writer transaction id, namespaced by
    ``txn_app`` (see last_txn / stream_snapshot_sink for the exactly-once
    protocol — Delta's documented (appId, version) scheme). With
    ``stats_cols`` the NEW files' min/max footer stats are collected and
    merged with the parent manifest's stats, so an append to a stats-
    pruned table keeps every file prunable (append batches are typically
    unclustered, so their per-file ranges are wide — compaction with
    stats_cols restores tight ranges; pruning stays CORRECT either way
    because stats-less files are always kept).

    Concurrency: on a commit conflict the append REBASES — the batch's
    data files are written once, and only the manifest merge reruns
    against the new tip (an append has no read-set, so disjoint
    concurrent appends always compose; Delta's documented disposition
    for blind appends). The one exception is an identity table whose
    high-water mark a concurrent writer moved: the batch's allocated
    values may collide, so that rebase re-allocates and rewrites the
    batch. A txn-stamped append re-checks the new tip's stamps before
    recommitting, so losing a race to a replay of the SAME (app, txn)
    batch resolves idempotently instead of double-appending."""
    p = _table(table_path)

    def write(df: DataFrame, tip: int, m_tip: dict) -> dict:
        """Run the batch through the table's write pipeline as of ``tip``
        and write its files."""
        _enforce_constraints(df, p, tip)
        widen_types: dict | None = None
        part_cols: list[str] = []
        sch = m_tip.get("schema") if tip else None
        id_meta = None
        if tip:
            if sch:
                # GENERATED ALWAYS AS IDENTITY allocates from the schema's
                # per-commit high-water mark. The planning schema is
                # validated against the tip again at commit time — a
                # concurrent identity writer moving a mark forces a
                # rewrite with fresh values (collision-free optimistic
                # writers).
                df, id_meta = _allocate_identity(df, sch)
                df = _materialize_wdefaults(df, sch)
                # generated columns the batch omits compute HERE (logical
                # namespace); carried ones were validated above
                df = _materialize_generated(df, sch)
                if id_meta:
                    # constraints referencing identity columns were deferred
                    # pre-allocation; re-enforce against allocated values
                    _enforce_identity_constraints(df, p, tip, m_tip)
                # mapped table: incoming logical columns write under their
                # frozen physical names (unknown columns fail loudly)
                df = _df_to_physical(df, sch)
                from pyspark.sql import functions as F

                declared = {c["physical"]: c["type"] for c in sch["cols"]}
                first_write = not m_tip.get("files")
                # cast to the DECLARED type: always on the FIRST write into
                # an empty-DDL table (the declaration is authoritative — a
                # bare SQL literal like 0.5 arrives as decimal(1,1) and
                # would otherwise freeze the physical type), and for any
                # void-typed column (a bare NULL literal) on every write
                # (void would poison the widening map)
                df = df.select(*[
                    F.col(c).cast(declared[c]).alias(c)
                    if c in declared and (
                        first_write
                        or dict(df.dtypes)[c] == "void"
                    )
                    else F.col(c)
                    for c in df.columns
                ])
            # type widening: a wider batch records the widened logical types
            # in the manifest (no rewrite); a narrower batch upcasts here
            df, widen_types = _apply_type_widening(df, p, m_tip)
            spec = m_tip.get("partitioning")
            if spec:
                part_cols = [
                    _mapping_physical(sch, c) if sch else c
                    for c in (spec.get("cols") or [])
                ]
            bspec = m_tip.get("bucketing")
        else:
            bspec = None
        eff_stats_cols = stats_cols
        if tip and stats_cols and m_tip.get("schema"):
            # caller speaks LOGICAL names; files and manifest stats live in
            # physical space (same disposition as every other stats writer)
            eff_stats_cols = [
                _mapping_physical(m_tip["schema"], c) for c in stats_cols
            ]
        if bspec:
            # bucketed table: the batch bucket-routes like the standing
            # files (bucket files from any number of writes compose into
            # one bucketed read)
            files = _write_files_bucketed(df, p, bspec["col"], int(bspec["n"]))
        elif part_cols:
            missing = [c for c in part_cols if c not in df.columns]
            if missing:
                raise ValueError(
                    f"append batch lacks partition column(s) {missing}"
                )
            # honor the table's partition spec: one file set per partition
            # value TUPLE with exact point stats on every spec column (the
            # evolved-layout write path)
            files = _write_files_by_partition(
                df, p, part_cols, what="partitioned append"
            )
            eff_stats_cols = sorted(set(stats_cols or []) | set(part_cols))
        else:
            files = _write_files(df, p)
        new_stats = (
            _collect_stats(p, files, eff_stats_cols, spark=df.sparkSession)
            if eff_stats_cols
            else None
        )
        return {"files": files, "stats_cols": eff_stats_cols, "stats": new_stats,
                "schema": sch, "id_meta": id_meta, "widen": widen_types}

    # the files are written BEFORE the commit loop reads its first tip:
    # the window a racer can land in is the manifest merge, not the write
    tip = current_version(p)
    written = write(df, tip, _read_manifest(p, tip) if tip else {})

    def attempt(parent, m):
        nonlocal written
        # a concurrent identity writer that advanced a high-water mark
        # past our planning base means our baked-in values may collide —
        # re-run the pipeline on the ORIGINAL batch against this tip
        # (fresh allocation + rewrite; the earlier files become
        # vacuum-able orphans)
        if written["id_meta"] and (
            _identity_cols(m.get("schema")) != _identity_cols(written["schema"])
        ):
            written = write(df, parent, m)
        files, id_schema_meta = written["files"], written["id_meta"]
        if id_schema_meta:
            # carry the bumped marks onto the TIP's schema (which may carry
            # unrelated concurrent DDL)
            marks = {c["name"]: c["identity"]
                     for c in _identity_cols(id_schema_meta)}
            id_schema_meta = json.loads(json.dumps(m["schema"]))
            for c in id_schema_meta["cols"]:
                if c["name"] in marks:
                    c["identity"] = marks[c["name"]]
        old_files = m.get("files", [])
        stats = None
        if written["stats_cols"]:
            stats = dict(m.get("stats", {}))
            stats.update(written["stats"])
        elif m.get("stats"):
            stats = m["stats"]  # carry surviving files' stats
        return _commit(p, old_files + files, parent, txn=txn, txn_app=txn_app,
                       txns_extra=txns_extra, stats=stats,
                       blooms=_carry_blooms(p, m, old_files, files) if parent else None,
                       dv=_carry_dv(m, old_files) if parent else None,
                       op="append", schema_meta=id_schema_meta,
                       # rebase: a racer may have widened further — merge
                       # per attempt (wider wins columnwise)
                       types_meta=(
                           _merge_type_maps(m.get("types"), written["widen"])
                           if written["widen"] is not None
                           else None
                       ))

    return _transact(p, attempt, txn=txn, txn_app=txn_app, create=True)


def snapshot_copy_into(
    spark: SparkSession,
    source: str,
    table_path,
    fileformat: str = "parquet",
    format_options: dict | None = None,
    stats_cols: list[str] | None = None,
) -> "tuple[int, int]":
    """Idempotent FILE-GRANULAR load (Databricks' COPY INTO): every
    source file loads exactly once — rerunning over the same directory
    appends only files not yet ingested, so a scheduled loader needs no
    side state. The ledger is per-file stamps in the manifest's
    carried-forward ``txns`` map (key ``copy:<abs path>`` — the same
    SetTransaction mechanism the streaming sinks use), so it survives
    vacuum, travels with clones, and lands ATOMICALLY with the rows (a
    crash between load and ledger is impossible; a crash before the
    commit re-loads cleanly). ``source`` is a directory (all its files)
    or a glob. Returns (version, files_loaded). One loader per source
    at a time — two simultaneous loaders of the same directory can race
    a file in twice (same as any two writers sharing a txn namespace).

    Scale shape: the new-file check is one ledger dict probe per source
    file (no data read); the load is ONE distributed read of only the
    new files; the commit is one append. State grows O(ingested files)
    — delta-encoded manifests carry it as a diff."""
    import glob as _glob

    p = _table(table_path)
    src = Path(source)
    if src.is_dir():
        # skip Spark-written non-data files (_SUCCESS, .part-*.crc,
        # ._committed*) — Spark's own directory scan ignores names
        # starting with '_' or '.', and the canonical landing layout
        # this form advertises is exactly a Spark output directory
        cands = sorted(
            str(f) for f in src.iterdir()
            if f.is_file() and not f.name.startswith(("_", "."))
        )
    else:
        cands = sorted(_glob.glob(source))
        if not cands and not _glob.has_magic(source):
            raise FileNotFoundError(f"COPY INTO source not found: {source}")
    cands = [str(Path(f).resolve()) for f in cands]
    tip = current_version(p)
    seen = _read_manifest(p, tip).get("txns", {}) if tip else {}
    new = [f for f in cands if f"copy:{f}" not in seen]
    if not new:
        return tip, 0
    reader = spark.read
    for k, v_ in (format_options or {}).items():
        reader = reader.option(k, v_)
    df = reader.format(fileformat).load(new)
    v = snapshot_append(
        df, p, stats_cols=stats_cols,
        txns_extra={f"copy:{f}": 1 for f in new},
    )
    return v, len(new)


def last_txn(table_path, txn_app: str | None = None) -> int:
    """Largest transaction id recorded FOR THE GIVEN WRITER NAMESPACE, or
    -1. Txn ids are namespaced by ``txn_app`` (Delta's (appId, version)
    protocol): two writer lineages appending to the same table never see
    each other's txn stamps, so neither silently skips the other's
    batches. ``txn_app=None`` matches only un-namespaced (legacy) stamps.

    The answer comes from the LATEST manifest's carried-forward ``txns``
    map (every commit copies its parent's map and folds in its own stamp
    — Delta's SetTransaction mechanism), so it survives vacuum even when
    another app's commit sat between this app's last stamp and the tail.
    Manifests predating the map fall back to the chain walk; a
    vacuumed-away ancestor ends that walk conservatively at -1."""
    p = Path(table_path)
    # key absent from the tip's map (or no map): walk the chain — a legacy
    # pre-map stamp for this app may sit below map-carrying commits whose
    # maps never saw it (conservative, never skips a live stamp; a
    # vacuumed ancestor ends the walk at -1)
    for _v, header in _ancestry(p, current_version(p)):
        seen = _txn_stamp(header, txn_app)
        if seen >= 0:
            return seen
    return -1


def snapshot_upsert(
    spark: SparkSession,
    df: DataFrame,
    table_path,
    keys: list[str],
    seed_stats_files: int | None = None,
    auto_evolve_schema: bool = False,
) -> int:
    """Keyed upsert as a new version. When the table's manifest carries
    per-file [min, max] stats for the first key column, only the files
    whose range CAN contain a batch key are rewritten — untouched files
    are carried into the new manifest byte-identical (Delta's stats-pruned
    MERGE shape: at 100 TB a point-keyed upsert rewrites a handful of
    files, never the table). Files without stats for the key are
    conservatively included in the rewrite set, so pruning never loses a
    matched row; a table with no key stats at all falls back to the full
    rewrite. New files' stats are collected for every column the parent
    manifest tracked, so later upserts and range reads keep pruning.

    The batch is written once, as its own data files (the reference's
    staging table), before the commit loop. Their footers give the key
    range and the row count; the rewrite is the touched files
    anti-joined against the staged files' key columns, and the commit
    lists the rewritten files plus the staged ones. A conflict retry
    reuses the staged files; only the prune and the rewrite rerun.

    ``seed_stats_files``: when the call CREATES the table, range-split the
    first commit on the key into that many files with per-file stats —
    the layout every later upsert's pruning feeds on. Ignored for
    existing tables (their layout is already decided).
    ``auto_evolve_schema`` auto-adds batch columns absent from the
    target before merging (see :func:`snapshot_evolve_schema_for`)."""
    p = _table(table_path)
    if current_version(p) == 0:
        # table creation (full replace either way); the rebase inside the
        # write handles a concurrent creator racing this one
        return snapshot_write(
            df, p, stats_cols=[keys[0]] if seed_stats_files else None,
            n_files=seed_stats_files,
        )
    id_cols_u = _identity_cols(
        _read_manifest(p, current_version(p)).get("schema")
    )
    if id_cols_u:
        # identity tables route through the conditional MERGE, which
        # carries matched rows' ids (update never assigns them) and
        # ALLOCATES for inserts — a wholesale row replace would lose
        # the target's identity values. Batch semantics are identical:
        # matched keys take every batch column, new keys insert.
        bad = {c["name"] for c in id_cols_u} & set(df.columns)
        if bad:
            raise ValueError(
                f"column(s) {sorted(bad)} are GENERATED ALWAYS AS "
                "IDENTITY and cannot be written explicitly"
            )
        return snapshot_merge(
            spark, df, p, keys,
            matched_update={
                c: f"s.`{c}`" for c in df.columns if c not in keys
            },
            not_matched_insert_values={
                c: f"s.`{c}`" for c in df.columns
            },
            auto_evolve_schema=auto_evolve_schema,
        )
    if auto_evolve_schema:
        snapshot_evolve_schema_for(spark, p, df)
    _enforce_constraints(df, p)
    m_tip = _read_manifest(p, current_version(p))
    sch = m_tip.get("schema")
    if sch:
        # mapped table: the whole merge runs in PHYSICAL column space
        # (read-back frames are physical; stats are keyed physical)
        df = _materialize_generated(df, sch)
        df = _df_to_physical(df, sch)
        keys = [_mapping_physical(sch, k) for k in keys]
    # type widening: wider batch -> manifest records the widened types;
    # narrower batch -> upcast here so the merge runs at the wide type
    df, widen_types = _apply_type_widening(df, p, m_tip)
    # the staged files are the batch's one evaluation: a NONDETERMINISTIC
    # batch (sample(), random keys, a re-read of a mutable source) cannot
    # write keys outside the pruned [lo, hi] and leave stale duplicates
    # alive in unrewritten files, not even when an executor is lost
    staged, stats = _write_nonempty(spark, df, p)
    # each round re-resolves the tip: an upsert's read-set is its file
    # prune, so a conflict means another writer changed the file list —
    # the prune and the rewrite rerun against the new parent over the same
    # staged files (the failed attempt's rewrite stays a vacuum-able
    # orphan). This is Delta's conflict disposition for overlapping
    # MERGEs: serialize by re-running, never compose.
    return _transact(p, lambda parent, m: _snapshot_upsert_committed(
        spark, p, keys, staged, stats, parent, m, widen_types,
    ))


def _write_nonempty(
    spark: SparkSession, df: DataFrame, p: Path
) -> "tuple[list[str], dict]":
    """:func:`_write_files`, keeping the files that hold rows, and their
    footer stats over every column of ``df`` (a superset of whatever a
    commit tracks). Spark writes its first part file even when that
    partition is empty; a commit must not list it, so it is deleted."""
    files = _write_files(df, p)
    stats = _collect_stats(p, files, df.columns, spark=spark)
    for f in files:
        if not stats[f][_ROWS_KEY]:
            (p / f).unlink()
            del stats[f]
    return list(stats), stats


def _snapshot_upsert_committed(
    spark, p, keys, staged, stats, parent, m, widen_types: dict | None = None,
) -> int:
    from pyspark.sql import functions as F

    col = keys[0]
    # effective read/commit types: the parent's widened map merged with
    # this batch's contribution (rebase-safe: recomputed per attempt)
    eff_types = (
        _merge_type_maps(m.get("types"), widen_types)
        if widen_types is not None
        else m.get("types")
    )
    types_meta = eff_types if widen_types is not None else None
    if not staged:
        # empty batch: metadata-only commit carrying the parent's files
        return _recommit(p, parent, m, "upsert", types_meta=types_meta)
    if not any(col in s for s in (m.get("stats") or {}).values()):
        # no key stats anywhere: every file is rewritten (the OTHER column
        # stats the table tracked are re-collected for the new files)
        touched = list(m["files"])
    else:
        bounds = [stats[f].get(col) for f in staged]
        if None in bounds:
            # a staged footer keeps no bound for the key (all NULL, or a
            # type written without min/max): read the key column itself
            lo, hi = _read_files_with_dv(spark, p, staged, None).agg(
                F.min(col), F.max(col)
            ).first()
        else:
            lo, hi = min(b[0] for b in bounds), max(b[1] for b in bounds)
        # lo None: every batch key is NULL, which matches no existing row
        # (the anti-join never equates NULLs) — a pure append of the batch
        touched = [] if lo is None else _admitted(m, [{col: (lo, hi)}])
    rewritten: list[str] = []
    if touched:
        # mergeSchema: on a schema-evolved table the touched set can span
        # file generations — a single-footer inference would silently drop
        # later-added columns from the rewritten rows
        kept = _read_files_with_dv(
            spark, p, sorted(touched), m.get("dv"), merge_schema=True,
            types=eff_types, schema=m.get("schema"),
        ).join(_read_files_with_dv(spark, p, staged, None).select(keys),
               keys, "left_anti")
        # write at most as many files as were rewritten: without this the
        # rewrite lands in default-parallelism part files and every narrow
        # upsert GROWS the table's file count (small-files creep that
        # compaction then has to undo)
        rewritten, rw_stats = _write_nonempty(
            spark, kept.coalesce(len(touched)), p
        )
        stats = {**stats, **rw_stats}
    return _replace_files(spark, p, parent, m, touched, rewritten + staged,
                          "upsert", new_stats=stats, types_meta=types_meta)


def _merge_cond(expr):
    from pyspark.sql import functions as F

    return F.expr(expr) if isinstance(expr, str) else expr


def snapshot_evolve_schema_for(
    spark: SparkSession, table_path, source: DataFrame
) -> int:
    """MERGE/upsert schema auto-evolution (Delta's
    ``schema.autoMerge`` / ``MERGE WITH SCHEMA EVOLUTION``): every
    source column absent from the target's logical schema auto-adds
    through the existing ADD COLUMN metadata path — O(metadata), no
    data rewritten, old files read the new columns as typed NULLs via
    the column-mapping projection. Tables without a column mapping
    enable one first (also metadata-only; physical names freeze at
    their current spelling so existing files read unchanged). Returns
    the number of columns added. Nested evolution (new struct fields
    inside an existing column) is out of scope — top-level columns
    only, matching this format's ADD COLUMN surface."""
    p = _table(table_path)
    v = current_version(p)
    if v == 0:
        return 0  # creation takes the source schema wholesale
    m = _read_manifest(p, v)
    sch = m.get("schema")
    if sch:
        target = {c["name"] for c in sch["cols"]}
    else:
        # unmapped table: the live logical schema is the (merged) read
        # schema — cheap here via one footer per distinct file schema
        target = set(snapshot_read(spark, p, merge_schema=True).columns)
    extra = [f for f in source.schema.fields if f.name not in target]
    if not extra:
        return 0
    if not sch:
        snapshot_enable_column_mapping(spark, p)
        # the mapping snapshot re-derives the schema; recompute against
        # it so a column visible in SOME file never double-adds
        sch = _read_manifest(p, current_version(p))["schema"]
        target = {c["name"] for c in sch["cols"]}
        extra = [f for f in source.schema.fields if f.name not in target]
    for f in extra:
        snapshot_add_column(p, f.name, f.dataType.simpleString())
    return len(extra)


def snapshot_merge(
    spark: SparkSession,
    source: DataFrame,
    table_path,
    keys: list[str],
    *,
    matched_update: dict | None = None,
    matched_update_condition=None,
    matched_delete: bool = False,
    matched_delete_condition=None,
    not_matched_insert: bool = True,
    not_matched_condition=None,
    not_matched_insert_values: dict | None = None,
    not_matched_by_source_delete: bool = False,
    not_matched_by_source_condition=None,
    not_matched_by_source_update: dict | None = None,
    not_matched_by_source_update_condition=None,
    txn: int | None = None,
    txn_app: str | None = None,
    auto_evolve_schema: bool = False,
) -> int:
    """Conditional MERGE (Delta's ``MERGE INTO t USING s ON keys WHEN
    MATCHED [AND cond] THEN UPDATE/DELETE, WHEN NOT MATCHED [AND cond]
    THEN INSERT``) committed through the snapshot format. Per matched
    (target, source) pair the clauses evaluate in order: the UPDATE arm
    applies when ``matched_update_condition`` holds (always, when None);
    otherwise the DELETE arm applies when its condition holds; otherwise
    the row carries unchanged. Unmatched target rows always carry;
    unmatched source rows insert when ``not_matched_insert`` and the
    condition holds — as the full source row by default, or through an
    explicit ``not_matched_insert_values`` map (Delta's ``INSERT (cols)
    VALUES (exprs)`` form: listed target columns evaluate their
    expression over ``s``, unlisted ones insert as typed NULLs). Conditions and update expressions are Columns or
    SQL strings over the aliases ``t`` (target) and ``s`` (source) —
    e.g. ``"s.price > t.price"`` / ``{"price": "s.price"}``; the insert
    condition sees only ``s``. A NULL condition is false (SQL WHEN
    semantics). The source must be key-unique — multiple source rows
    matching one target row raise (Delta's cardinality contract).

    Scale shape: stats-pruned like snapshot_upsert — only files whose
    [min, max] can contain a source key participate, through one
    left-outer join of their live rows with the source. The rows the
    arms update or delete are counted once (:func:`_apply_row_actions`,
    the core UPDATE and DELETE share): up to DV_MAX_DELETED_ROWS of them
    commit MERGE-ON-READ — their positions grow the touched files'
    deletion vectors, update images append with row provenance and
    inserts append as new files, so a narrow merge on a 100 TB table
    touches O(matched) metadata plus the new rows' bytes. Wider merges
    copy-on-write rewrite the touched files. Same optimistic rebase-retry
    disposition as every writer. Reference parity: generalizes the J1
    merge class (etl-s3-processed-to-redshift.py:66-96) to Delta's
    conditional WHEN-clause form. ``not_matched_by_source_delete`` adds
    Delta's WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE arm — the
    full-sync replication shape (target rows whose key the source no
    longer carries are deleted; the condition sees only ``t``). Its
    scope is the WHOLE table by definition, so with this arm every live
    file participates, under the same cap.
    ``not_matched_by_source_update`` adds Delta's WHEN NOT MATCHED BY
    SOURCE [AND cond] THEN UPDATE SET arm
    (soft-delete flagging is the canonical use) — expressions and the
    condition see only ``t`` (there IS no source row; qualify columns
    as ``t.<col>``). When both BY SOURCE arms are present the UPDATE
    arm evaluates first (callers encoding Delta's written-order
    semantics negate conditions accordingly — SnapshotCatalog does).
    ``txn``/``txn_app`` stamp the commit
    with a writer transaction id (Delta's (appId, version) protocol): a
    replayed merge with an already-landed stamp is a no-op BEFORE any
    work — the primitive under the exactly-once streaming merge sink.
    ``auto_evolve_schema`` (Delta's ``WITH SCHEMA EVOLUTION``) auto-adds
    source columns absent from the target before merging — see
    :func:`snapshot_evolve_schema_for`."""
    from pyspark.sql import functions as F

    p = _table(table_path)
    if txn is not None and current_version(p) and txn <= last_txn(p, txn_app):
        return current_version(p)  # this batch already landed (replay)
    if current_version(p) == 0:
        if not not_matched_insert:
            raise FileNotFoundError(f"no snapshot table at {p}")
        ins = source
        if not_matched_condition is not None:
            ins = ins.alias("s").where(_merge_cond(not_matched_condition))
        if not_matched_insert_values is not None:
            # empty table: no target schema to project onto — the
            # explicit column list IS the schema
            ins = ins.alias("s").select(*[
                _merge_cond(e).alias(c)
                for c, e in not_matched_insert_values.items()
            ])
        # append (not write): the txn stamp must land with the first
        # commit so a crash-replay of this very batch resolves idempotent
        return snapshot_append(ins, p, txn=txn, txn_app=txn_app)
    if auto_evolve_schema:
        snapshot_evolve_schema_for(spark, p, source)
    _enforce_constraints(source, p)
    m_tip = _read_manifest(p, current_version(p))
    sch = m_tip.get("schema")
    id_names = {c["name"] for c in _identity_cols(sch)}
    # case-insensitive intersection: _normalize_assign_keys re-keys
    # assignment maps case-insensitively downstream, so `SET ID = ...`
    # against identity column `id` must be refused here too
    id_lower = {n.lower() for n in id_names}
    if id_names:
        assigned_id = {
            k
            for k in (
                set(matched_update or ())
                | set(not_matched_by_source_update or ())
            )
            if k.lower() in id_lower
        }
        if assigned_id:
            raise ValueError(
                f"column(s) {sorted(assigned_id)} are GENERATED ALWAYS "
                "AS IDENTITY and cannot be assigned by MERGE UPDATE"
            )
        if not_matched_insert:
            # INSERT arms ALLOCATE identity for their rows (inside
            # _snapshot_merge_committed, per rebase attempt — the retry
            # loop re-derives from the fresh tip, which IS the
            # restart-on-conflict protocol); what they must never do is
            # write an EXPLICIT value
            explicit = {
                k
                for k in (
                    set(not_matched_insert_values)
                    if not_matched_insert_values is not None
                    else set(source.columns)
                )
                if k.lower() in id_lower
            }
            if explicit:
                raise ValueError(
                    f"column(s) {sorted(explicit)} are GENERATED ALWAYS "
                    "AS IDENTITY and cannot be inserted explicitly by "
                    "MERGE (use INSERT (cols) VALUES without them)"
                )
    src = source
    if sch:
        # mapped table: widening reconciliation runs in PHYSICAL space
        # (the manifest's types map is physical), the MERGE itself in
        # LOGICAL space (conditions speak the caller's names)
        src_phys, widen_types = _apply_type_widening(
            _df_to_physical(_materialize_generated(source, sch), sch),
            p, m_tip
        )
        src = _apply_column_mapping(src_phys, sch)
    else:
        src, widen_types = _apply_type_widening(source, p, m_tip)
    col = keys[0]
    src = src.persist()  # evaluated for range agg, cardinality, join, write
    try:
        if (matched_update is not None or matched_delete
                or not_matched_by_source_delete
                or not_matched_by_source_update is not None) and (
            src.groupBy(*keys).count().where("count > 1").limit(1).count()
        ):
            raise ValueError(
                "snapshot_merge: source has duplicate rows per key — "
                "multiple source rows cannot match one target row"
            )
        # a round that finds the batch's stamp on the tip lost a rebase
        # race to its own replay and returns that tip
        return _transact(p, lambda parent, m: _snapshot_merge_committed(
            spark, src, p, keys, col, parent, m, widen_types,
            matched_update, matched_update_condition,
            matched_delete, matched_delete_condition,
            not_matched_insert, not_matched_condition,
            insert_values=not_matched_insert_values,
            nmbs_delete=not_matched_by_source_delete,
            nmbs_condition=not_matched_by_source_condition,
            nmbs_update=not_matched_by_source_update,
            nmbs_update_condition=not_matched_by_source_update_condition,
            txn=txn, txn_app=txn_app,
        ), txn=txn, txn_app=txn_app)
    finally:
        src.unpersist()


def _snapshot_merge_committed(
    spark, src, p, keys, col, parent, m, widen_types,
    matched_update, matched_update_condition,
    matched_delete, matched_delete_condition,
    not_matched_insert, not_matched_condition,
    insert_values=None,
    nmbs_delete=False, nmbs_condition=None,
    nmbs_update=None, nmbs_update_condition=None,
    txn=None, txn_app=None,
) -> int:
    from functools import reduce
    from operator import or_

    from pyspark.sql import functions as F

    sch = m.get("schema")
    stats: dict = m.get("stats", {}) or {}
    eff_types = (
        _merge_type_maps(m.get("types"), widen_types)
        if widen_types is not None
        else m.get("types")
    )
    types_meta = eff_types if widen_types is not None else None
    meta = {"types_meta": types_meta, "txn": txn, "txn_app": txn_app}
    pcol = _mapping_physical(sch, col) if sch else col
    lo, hi, n_rows = src.agg(F.min(col), F.max(col), F.count(F.lit(1))).first()
    if n_rows == 0 and not nmbs_delete and nmbs_update is None:
        # an empty source is a no-op — UNLESS a not-matched-by-source
        # arm is present, where it means "sync to empty" (every target
        # row is unmatched and the arm decides its fate below)
        return _recommit(p, parent, m, "merge", **meta)
    if nmbs_delete or nmbs_update is not None:
        # WHEN NOT MATCHED BY SOURCE: an unmatched row can live in ANY
        # file, so every live file participates
        touched = sorted(m["files"])
    elif lo is None or not any(pcol in s for s in stats.values()):
        # all-NULL keys match nothing (pure insert); a table with no key
        # stats anywhere conservatively touches every file
        touched = [] if lo is None else list(m["files"])
    else:
        touched = sorted(_admitted(m, [{pcol: (lo, hi)}]))

    def _ins_rows(live_keys: DataFrame) -> "tuple[DataFrame, dict | None]":
        """The insert arm's rows against ``live_keys`` and the
        schema_meta their identity allocation bumps. Allocation runs
        per ATTEMPT from this tip's high-water marks: a commit conflict
        throws to _transact, whose next round re-derives from the
        fresh tip — snapshot_append's restart-with-fresh-values
        protocol."""
        ins = src
        if not_matched_condition is not None:
            ins = ins.alias("s").where(_merge_cond(not_matched_condition))
        ins = ins.join(live_keys, keys, "left_anti")
        if insert_values is not None:
            # explicit INSERT (cols) VALUES (exprs): project onto the
            # TARGET's logical columns — listed columns evaluate their
            # expression over the source alias, unlisted ones insert as
            # typed NULLs (Delta's explicit-insert semantics)
            if sch:
                pairs = [(c["name"], c["type"]) for c in sch["cols"]]
            else:
                ft = _footer_types(p, list(m["files"])[:1])
                pairs = [
                    (c, (eff_types or {}).get(c, t))
                    for c, t in ft.items()
                    if c not in _PROV_COLS
                ]
            unknown = set(insert_values) - {c for c, _t in pairs}
            if unknown:
                raise ValueError(
                    f"MERGE INSERT lists unknown target column(s): "
                    f"{sorted(unknown)}"
                )
            # unlisted GENERATED/defaulted columns are left ABSENT (not
            # typed NULL) so the materialization below computes them —
            # Delta resolves generated expressions and write defaults
            # for merge inserts too
            resolved = {
                c["name"] for c in (sch or {}).get("cols", [])
                if c.get("generated") is not None
                or c.get("wdefault") is not None
            }
            ins = ins.alias("s").select(*[
                (
                    _merge_cond(insert_values[c]).cast(t)
                    if c in insert_values
                    else F.lit(None).cast(t)
                ).alias(c)
                for c, t in pairs
                if c in insert_values or c not in resolved
            ])
        # write defaults and generated columns resolve for insert rows
        # exactly as they do for appends (the insert arm IS a row-
        # creating write); explicit-insert typed-NULL slots stay NULL —
        # only genuinely ABSENT columns materialize
        ins = _materialize_wdefaults(ins, sch)
        ins = _materialize_generated(ins, sch)
        # the explicit-insert projection's typed-NULL identity slots give
        # way to allocated values
        return _allocate_identity(
            ins.drop(*[c["name"] for c in _identity_cols(sch)]), sch
        )

    if not touched:
        rows, live_keys = None, src.limit(0).select(keys)
    else:
        tagged = _tagged_live_logical(spark, p, m, touched, types=eff_types)
        live_keys = tagged.select(keys).distinct()
        rows = tagged.alias("t").join(
            src.withColumn("_s_matched", F.lit(True)).alias("s"),
            [F.col(f"t.{k}") == F.col(f"s.{k}") for k in keys],
            "left_outer",
        )

    def when(cond):
        # a clause's condition: absent is true, NULL is false
        return F.lit(True) if cond is None else F.coalesce(
            _merge_cond(cond), F.lit(False)
        )

    # the arms, matched and not matched by source: on each side an
    # UPDATE wins over the DELETE
    is_m = F.coalesce(F.col("s._s_matched"), F.lit(False))
    deletes, updates = [], []
    for side, upd_map, upd_cond, has_del, del_cond in (
        (is_m, matched_update, matched_update_condition,
         matched_delete, matched_delete_condition),
        (~is_m, nmbs_update, nmbs_update_condition,
         nmbs_delete, nmbs_condition),
    ):
        dele = side & when(del_cond)
        if upd_map is not None:
            upd = side & when(upd_cond)
            updates.append((upd, upd_map))
            dele = dele & ~upd
        if has_del:
            deletes.append(dele)
    return _apply_row_actions(
        spark, p, parent, m, touched, rows,
        reduce(or_, deletes) if deletes else None, updates, target="t",
        insert_rows=(
            (lambda: _ins_rows(live_keys)) if not_matched_insert else None
        ),
        ops=("merge", "merge"), **meta,
    )


# Resolved-manifest cache: manifests are immutable once published (the
# only rewrite — vacuum's checkpoint materialization — replaces content
# with its semantic equal via os.replace, changing the inode), so a
# resolved state keyed by (table, version, inode, mtime_ns) can never go
# stale. The cache is what makes delta-chain resolution O(change)
# amortized: resolving version N+1 folds one delta onto the cached N
# instead of re-walking to the checkpoint.
from collections import OrderedDict as _OrderedDict

_RESOLVE_CACHE: "_OrderedDict[tuple, dict]" = _OrderedDict()
_RESOLVE_CACHE_MAX = 32


def _cache_put(key: tuple, val: dict) -> None:
    _RESOLVE_CACHE[key] = val
    _RESOLVE_CACHE.move_to_end(key)
    while len(_RESOLVE_CACHE) > _RESOLVE_CACHE_MAX:
        _RESOLVE_CACHE.popitem(last=False)


def _copy_resolved(base: dict) -> dict:
    """One-level copy of a cached resolved state: callers may rebind or
    copy-then-mutate the top-level entries (every mutating caller already
    dict()/list()-copies before writing), but the cached original must
    never be handed out aliased."""
    out = dict(base)
    out["files"] = list(base["files"])
    for k in ("stats", "blooms", "dv", "txns"):
        if k in base:
            out[k] = dict(base[k])
    return out


def _apply_delta(base: dict, raw: dict) -> dict:
    """Fold one delta manifest onto its parent's resolved state. Per-
    version fields (op/ts/txn/txns/...) come from the delta itself —
    they are never inherited, matching full-manifest semantics."""
    d = raw["delta"]
    removed = set(d.get("remove", []))
    files = [f for f in base["files"] if f not in removed]
    files.extend(d.get("add", []))
    out: dict = {"files": sorted(files)}
    for fld in ("version", "parent", "txn", "txn_app", "txns", "op", "ts",
                "ckpt_dist", "n_files", "empty_types"):
        if fld in raw:
            out[fld] = raw[fld]
    # schema/constraints/types/partitioning metadata: a delta stores them
    # only when CHANGED
    for meta in ("schema", "constraints", "types", "partitioning",
                 "bucketing", "properties"):
        if meta in raw:
            out[meta] = raw[meta]
        elif meta in base:
            out[meta] = base[meta]
    for name in ("stats", "blooms", "dv"):
        cur = dict(base.get(name, {}) or {})
        for k in d.get(f"{name}_del", []):
            cur.pop(k, None)
        cur.update(d.get(f"{name}_set", {}))
        if cur:
            out[name] = cur
    return out


def _write_ckpt_sidecar(
    table_path: Path, version: int, files: list[str],
    stats: dict, blooms: dict, dv: dict,
) -> str:
    """Write a checkpoint's per-file state as a parquet sidecar; returns
    its manifest-relative name (uuid-unique — a racing writer's orphan
    can never be confused with the winner's)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    name = f"v{version}.{uuid.uuid4().hex}.ckpt.parquet"
    tbl = pa.table(
        {
            "rel": files,
            "stats": [
                json.dumps(stats[f]) if f in stats else None for f in files
            ],
            "blooms": [
                json.dumps(blooms[f]) if f in blooms else None for f in files
            ],
            # dv dicts are keyed by _dv_key (suffix) — align through it
            "dv": [
                json.dumps(dv[_dv_key(f)]) if _dv_key(f) in dv else None
                for f in files
            ],
        }
    )
    out = Path(table_path) / _MANIFEST_DIR / name
    tmp = out.with_suffix(".tmp")
    pq.write_table(tbl, tmp, compression="zstd")
    os.replace(tmp, out)
    return name


def _read_ckpt_sidecar(table_path: Path, raw: dict) -> dict:
    """Inflate a parquet-checkpoint manifest into the resolved form the
    rest of the module consumes (files/stats/blooms/dv inline)."""
    import pyarrow.parquet as pq

    t = pq.read_table(Path(table_path) / _MANIFEST_DIR / raw["ckpt_parquet"])
    rels = t.column("rel").to_pylist()
    out = {k: v for k, v in raw.items() if k != "ckpt_parquet"}
    out["files"] = rels
    for col in ("stats", "blooms", "dv"):
        vals = t.column(col).to_pylist()
        # dv dicts are keyed by _dv_key (suffix); stats/blooms by file ref
        key = _dv_key if col == "dv" else (lambda r: r)
        d = {key(r): json.loads(v) for r, v in zip(rels, vals) if v is not None}
        if d:
            out[col] = d
    return out


def _read_manifest(table_path, version: int) -> dict:
    """RESOLVED manifest for a version: full manifests parse directly;
    delta manifests walk parent pointers to the nearest checkpoint (or
    cached ancestor) and fold forward. Every intermediate resolution is
    cached, so the common access pattern — read the tip after each commit
    — costs one delta parse + one fold, independent of table size."""
    p = Path(table_path)
    chain: list[tuple[tuple, dict]] = []
    v = int(version)
    base: dict | None = None
    while True:
        mp = _manifest_path(p, v)
        st = mp.stat()  # FileNotFoundError propagates (existing contract)
        key = (str(p), v, st.st_ino, st.st_mtime_ns)
        cached = _RESOLVE_CACHE.get(key)
        if cached is not None:
            _RESOLVE_CACHE.move_to_end(key)
            base = cached
            break
        raw = json.loads(mp.read_text())
        if "delta" not in raw:
            base = (
                _read_ckpt_sidecar(p, raw) if "ckpt_parquet" in raw else raw
            )
            _cache_put(key, base)
            break
        chain.append((key, raw))
        v = int(raw["parent"])
        if v <= 0:
            raise FileNotFoundError(
                f"delta manifest chain for v{version} in {table_path} "
                "reaches parent 0 without a checkpoint ancestor"
            )
    for key, raw in reversed(chain):
        base = _apply_delta(base, raw)
        _cache_put(key, base)
    return _copy_resolved(base)


def _ancestry(p: Path, tip: int, stop: int = 0):
    """The committed history at and below ``tip``, newest first: yields
    ``(version, header)`` per version on the tip's parent chain, where
    ``header`` is the manifest's raw JSON (version, parent, ts, op, txn,
    txn_app and txns are always top-level there, never behind a delta or
    a sidecar, so nothing is resolved). Orphan manifests — losing racers,
    rolled-over versions — are never on the chain. The walk ends above
    ``stop``, at version 0, or at a manifest no longer on disk (vacuumed
    history); a caller that must fail on a gap checks where it ended."""
    v = int(tip)
    while v > max(stop, 0):
        try:
            header = json.loads(_manifest_path(p, v).read_text())
        except FileNotFoundError:
            return
        header.setdefault("parent", 0)
        yield v, header
        v = int(header["parent"])


def _manifest_diff(
    p: Path, v_from: int, v_to: int
) -> tuple[list, list, dict]:
    """What changed between two versions, from manifest metadata alone:
    ``(added, removed, grown)``. ``added`` and ``removed`` are sorted file
    refs; ``grown`` maps each file listed at both versions whose deletion
    vector gained positions to those newly dead positions, packed. Version
    0 reads as the empty manifest. A vacuumed version raises
    FileNotFoundError."""
    def files_dv(v):
        m = _read_manifest(p, v) if v else {"files": []}
        return set(m["files"]), m.get("dv") or {}

    (f_from, dv_from), (f_to, dv_to) = files_dv(v_from), files_dv(v_to)
    grown: dict[str, str] = {}
    for f in sorted(f_from & f_to):
        k = _dv_key(f)  # dv dicts are suffix-keyed (clone inherited refs)
        if k not in dv_to or dv_to[k] == dv_from.get(k):
            continue
        old = set(_unpack_positions(dv_from[k])) if k in dv_from else set()
        dead = sorted(set(_unpack_positions(dv_to[k])) - old)
        if dead:
            grown[f] = _pack_positions(dead)
    return sorted(f_to - f_from), sorted(f_from - f_to), grown


def snapshot_version_as_of(table_path, ts: float) -> int:
    """Delta's TIMESTAMP AS OF: the LATEST version whose commit wall-clock
    stamp is <= ``ts``, resolved by walking the TIP'S PARENT CHAIN (the
    committed history, :func:`_ancestry`). A losing racer's orphan
    manifest or a rolled-over version sits on disk but not on the chain,
    so it can never be resolved to — globbing v*.json could return a
    version that was never committed history and whose files vacuum is
    free to delete. Raises if every chain manifest postdates ``ts`` —
    same contract as Delta, which refuses a timestamp before the earliest
    reproducible commit (older history may have been vacuumed). Manifests
    predating the ts stamp (none in practice) are skipped rather than
    guessed at."""
    p = Path(table_path)
    for v, header in _ancestry(p, current_version(p)):
        # newest -> oldest, so the first qualifying version IS the
        # latest one at or before ts
        if header.get("ts") is not None and header["ts"] <= ts:
            return v
    raise FileNotFoundError(
        f"no committed version at or before ts={ts} in {table_path}"
    )


def snapshot_read(
    spark: SparkSession, table_path, version: int | None = None,
    merge_schema: bool = False, as_of_ts: float | None = None,
    where=None,
) -> DataFrame:
    """Read a consistent snapshot: the file LIST comes from one manifest,
    so concurrent commits can never tear the read. version=None reads the
    latest; an integer time-travels; ``as_of_ts`` time-travels by commit
    wall-clock instead (mutually exclusive with ``version``).
    ``merge_schema=True`` unions the schemas of ALL listed files (columns
    added by later appends read as NULL on pre-evolution files — Delta's
    additive schema evolution); the default single-footer inference is
    cheaper and right for tables whose commits share one schema.

    ``where`` (a SQL predicate string or a region, over logical names —
    see :func:`snapshot_files`) prunes FILES against the manifest before
    Spark lists a path, then filters the rows: stats prune files, the
    predicate prunes rows. At 100 TB this is the difference between
    opening every file of a snapshot and the few whose stats can match.
    A selection no file can match reads as the snapshot's typed frame
    with no rows (planned, never scanned). So does a version listing no
    files (a truncate): typed by the declared mapping, else by the reader
    schema the emptying commit recorded, else by the footer of the nearest
    earlier version that lists files."""
    from pyspark.sql import functions as F

    p = Path(table_path)
    if as_of_ts is not None:
        if version is not None:
            raise ValueError("pass version OR as_of_ts, not both")
        version = snapshot_version_as_of(p, as_of_ts)
    v = current_version(p) if version is None else version
    if v == 0:
        raise FileNotFoundError(f"no committed version in {table_path}")
    m = _read_manifest(p, v)
    schema = m.get("schema")
    if not m["files"]:
        # schema-only version (empty-table DDL, pre-first-write): a
        # typed empty frame from the declared mapping
        if schema:
            return spark.createDataFrame([], ", ".join(
                f"{c['name']} {c['type']}" for c in schema["cols"]
            ))
        # an unmapped table keeps its schema only in file footers: the
        # commit that emptied it recorded their reader schema
        if m.get("empty_types"):
            return spark.createDataFrame([], _types_ddl(m["empty_types"]))
        listed = _nearest_listed_ancestor(p, v)
        first = listed["files"][0] if listed else None
        if first is None or not (p / first).exists():
            raise FileNotFoundError(
                f"version {v} of {table_path} lists no files and no "
                "schema, and no earlier version's footer is readable"
            )
        return spark.createDataFrame([], _read_files_with_dv(
            spark, p, [first], None, types=listed.get("types")
        ).schema)
    files = list(m["files"])
    kept = files if where is None else _admitted(m, _where_region(schema, where))
    # merge-on-read: apply the manifest's deletion vectors (no-op without)
    df = _read_files_with_dv(
        spark, p, kept or files, m.get("dv"),
        # a mapped table's files span physical-column generations —
        # always union their schemas so the mapping sees every physical
        merge_schema=merge_schema or schema is not None,
        types=m.get("types"),  # widened logical types: explicit-schema read
        schema=schema,
    )
    # column mapping: surface logical names, hide retired physicals
    if schema:
        df = _apply_column_mapping(df, schema)
    if where is None:
        return df
    if not kept:
        return df.where(F.lit(False))
    if isinstance(where, (list, tuple)):
        where = _region_filter(where)
    return df.where(where)


def _nearest_listed_ancestor(p: Path, v: int) -> dict | None:
    """Resolved manifest of the nearest version at or below ``v`` on its
    parent chain that lists files; None when the chain ends (or reaches a
    vacuumed manifest) first."""
    for anc_v, _header in _ancestry(p, v):
        try:
            anc = _read_manifest(p, anc_v)
        except FileNotFoundError:
            return None
        if anc["files"]:
            return anc
    return None


def _region_filter(region: list):
    """Row filter of a region: OR over its disjuncts of the AND of each
    disjunct's closed bounds."""
    import operator

    from pyspark.sql import functions as F

    def _disjunct(d: dict):
        terms = []
        for c, (lo, hi) in d.items():
            if lo is not None:
                terms.append(F.col(c) >= F.lit(lo))
            if hi is not None:
                terms.append(F.col(c) <= F.lit(hi))
        return functools.reduce(operator.and_, terms) if terms else F.lit(True)

    if not region:
        return F.lit(False)
    return functools.reduce(operator.or_, map(_disjunct, region))


def snapshot_rollback(table_path, version: int) -> None:
    """Re-point _latest at an older version — O(1), no data moved."""
    p = Path(table_path)
    if not _manifest_path(p, version).exists():
        raise FileNotFoundError(f"version {version} does not exist")
    # same critical section as _commit's swap: a rollback racing a commit
    # must serialize (the commit either lands before the rollback and is
    # rolled over, or sees the moved tip and rebases) — never interleave
    lock, token = _acquire_pointer_lock(p)
    try:
        _verify_pointer_lock(lock, token)
        tmp = p / f"{_LATEST}.tmp"
        tmp.write_text(str(version))
        os.replace(tmp, p / _LATEST)
    finally:
        _release_pointer_lock(lock, token)


def snapshot_clone(
    src_table, dst_table, version: int | None = None,
    as_of_ts: float | None = None,
) -> int:
    """SHALLOW CLONE (Delta's CREATE TABLE ... SHALLOW CLONE): a new table
    whose first manifest references the source version's data files by
    ABSOLUTE path — zero bytes of data copied, O(metadata) wall time.
    Writes to the clone land in its own data/ dir and never touch the
    source; commits to the source after the clone are invisible to it
    (the clone captured one immutable manifest). Deletion vectors carry
    unchanged: dv dicts are keyed by the data/<dir>/<name> suffix
    (_dv_key), which is identical for the source's relative ref and the
    clone's absolute ref. Stats/blooms re-key to the absolute refs so
    the clone's file pruning works as-is.

    Same caveat as Delta: VACUUM on the SOURCE can delete files a clone
    still references (the source doesn't know its clones). The clone's
    own vacuum only scans its own data/ dir, so inherited files are
    never deleted by it."""
    sp = Path(src_table)
    sv = (
        snapshot_version_as_of(sp, as_of_ts) if as_of_ts is not None
        else (current_version(sp) if version is None else version)
    )
    if sv == 0:
        raise FileNotFoundError(f"no committed version in {src_table}")
    m = _read_manifest(sp, sv)
    abs_of = {f: str((sp / f).resolve()) for f in m["files"]}
    files = sorted(abs_of.values())
    stats = {abs_of[f]: s for f, s in (m.get("stats", {}) or {}).items()
             if f in abs_of}
    blooms = {abs_of[f]: b for f, b in (m.get("blooms", {}) or {}).items()
              if f in abs_of}
    dp = _table(dst_table)
    if current_version(dp) != 0:
        raise FileExistsError(f"{dst_table} already has committed versions")
    return _commit(
        dp, files, 0,
        stats=stats or None, blooms=blooms or None,
        dv=dict(m.get("dv", {}) or {}) or None,
        op="clone", schema_meta=m.get("schema"),
        constraints_meta=m.get("constraints"),
        types_meta=m.get("types"),
        partitioning_meta=m.get("partitioning"),
        bucketing_meta=m.get("bucketing"),
        properties_meta=m.get("properties"),
    )


def _enforce_constraints(df: DataFrame, p: Path, tip: int | None = None) -> None:
    """Reject a write batch violating any table CHECK constraint (ONE
    LIMIT-1 job total, all constraints as flag columns of a single
    batch scan — see _run_constraint_checks; never a scan of the
    table). SQL CHECK semantics: only FALSE violates; NULL satisfies. GENERATED ALWAYS AS columns the batch
    CARRIES validate the same way (value must null-safe-equal the
    expression — Delta's generated-column write contract), so an
    explicit wrong value never lands."""
    from pyspark.sql import functions as F

    tip = current_version(p) if tip is None else tip
    if not tip:
        return
    m = _read_manifest(p, tip)
    cons = dict(m.get("constraints") or {})
    if not cons and not any(
        c.get("generated") is not None
        for c in (m.get("schema") or {}).get("cols", [])
    ):
        return  # nothing to enforce: skip the materialization below
    # a narrow batch may legally omit columns — a CHECK referencing one
    # must see what the write will actually produce, not an
    # unresolved-column error (Delta resolves before checking): the
    # WRITE default (or birth default) for defaulted columns, the
    # generated expression for generated ones, a typed NULL otherwise
    # (so NOT NULL constraints reject narrow batches properly).
    # Two passes: defaults/NULLs first (literals, reference nothing),
    # then generated expressions (may reference the columns pass one
    # just added — declaration order must not matter).
    # Identity columns allocate AFTER enforcement, so they are skipped
    # here and constraints referencing them are deferred entirely
    # (values are non-null and on-grid by construction).
    scols = (m.get("schema") or {}).get("cols", [])
    absent_identity = {
        c["name"] for c in scols
        if c.get("identity") and c["name"] not in df.columns
    }
    materialized_gen: set[str] = set()
    for c in scols:
        if c["name"] in df.columns or c.get("identity"):
            continue
        if c.get("generated") is not None:
            continue  # second pass
        d = c.get("wdefault", c.get("default"))
        df = df.withColumn(
            c["name"],
            F.expr(d).cast(c["type"]) if d is not None
            else F.lit(None).cast(c["type"]),
        )
    for c in scols:
        if c["name"] in df.columns or c.get("identity"):
            continue
        df = df.withColumn(
            c["name"], F.expr(c["generated"]).cast(c["type"])
        )
        materialized_gen.add(c["name"])
    if absent_identity:
        targets = {a.lower() for a in absent_identity}
        cons = {
            n: e for n, e in cons.items()
            if not (_expr_identifiers(e) & targets)
        }
    have = set(df.columns)
    for c in scols:
        gen = c.get("generated")
        if (gen is not None and c["name"] in have
                and c["name"] not in materialized_gen):
            # columns the batch CARRIED validate against the expression;
            # ones the loop above materialized FROM the expression are
            # true by construction — no job spent re-proving it
            cons[f"__generated_{c['name']}"] = (
                f"{c['name']} <=> CAST(({gen}) AS {c['type']})"
            )
    _run_constraint_checks(df, cons, "")


def _run_constraint_checks(df: DataFrame, cons: dict, when: str) -> None:
    """Evaluate EVERY pending CHECK in ONE job: a single LIMIT-1 scan of
    the batch computes all constraint expressions as boolean flag
    columns (NULL satisfies — SQL CHECK semantics; only FALSE violates)
    and keeps the first row violating any; the violated names resolve
    from that row's flags. One batch scan regardless of constraint
    count — the previous per-constraint LIMIT-1 form cost N scans per
    write on governance-heavy tables, pure overhead at 100 TB append
    rates. Flag columns use the __snap_ reserved prefix (batches
    carrying __snap_* names are refused upstream, so no collision)."""
    from pyspark.sql import functions as F

    if not cons:
        return
    names = sorted(cons)
    flags = [
        F.coalesce(F.expr(cons[n]).cast("boolean"), F.lit(True)).alias(
            f"__snap_chk_{i}"
        )
        for i, n in enumerate(names)
    ]
    all_ok = None
    for i in range(len(names)):
        c = F.col(f"__snap_chk_{i}")
        all_ok = c if all_ok is None else (all_ok & c)
    bad = (
        df.select(*df.columns, *flags)
        .where(~all_ok)
        .limit(1)
        .collect()
    )
    if bad:
        row = bad[0].asDict()
        violated = [
            n for i, n in enumerate(names)
            if row.pop(f"__snap_chk_{i}") is False
        ]
        name = violated[0] if violated else names[0]
        raise SnapshotConstraintViolation(
            f"CHECK constraint {name!r} ({cons[name]}) violated"
            f"{when}, e.g. by row {row}"
            + (f" (also violated: {violated[1:]})" if len(violated) > 1
               else "")
        )


def _enforce_identity_constraints(
    df: DataFrame, p: Path, tip: int, m: dict | None = None
) -> None:
    """Post-allocation pass for CHECK constraints that reference
    identity columns: :func:`_enforce_constraints` runs BEFORE identity
    allocation and must defer such constraints (the values do not exist
    yet), so every identity-allocating writer calls this on the batch
    WITH its allocated values — Delta enforces CHECKs after identity
    generation, so ``CHECK (id < 1000)`` keeps biting write after
    write. The frame arrives post-materialization (write defaults and
    generated columns already present in the logical namespace); any
    still-absent non-identity column evaluates as its write-time value,
    same rules as the main pass. Cost: one LIMIT-1 job TOTAL over the
    BATCH (delegates to _run_constraint_checks, which evaluates every
    deferred CHECK as flag columns of a single batch scan), only on
    identity tables that carry one."""
    from pyspark.sql import functions as F

    m = _read_manifest(p, tip) if m is None else m
    cons = dict(m.get("constraints") or {})
    scols = (m.get("schema") or {}).get("cols", [])
    id_lower = {c["name"].lower() for c in scols if c.get("identity")}
    if not cons or not id_lower:
        return
    cons = {
        n: e for n, e in cons.items()
        if _expr_identifiers(e) & id_lower
    }
    if not cons:
        return
    have_lower = {c.lower() for c in df.columns}
    for c in scols:
        if c["name"].lower() in have_lower:
            continue
        if c.get("generated") is not None:
            df = df.withColumn(
                c["name"], F.expr(c["generated"]).cast(c["type"])
            )
        else:
            d = c.get("wdefault", c.get("default"))
            df = df.withColumn(
                c["name"],
                F.expr(d).cast(c["type"]) if d is not None
                else F.lit(None).cast(c["type"]),
            )
    _run_constraint_checks(df, cons, " after identity allocation")


def snapshot_truncate(table_path) -> int:
    """``TRUNCATE TABLE`` / ``DELETE FROM t`` with no predicate: ONE
    metadata-only commit listing zero files — no data read, no DV grown,
    O(1) at any table size (the Delta delete-all fast path). Schema,
    constraints, partition spec, and identity high-water marks all
    carry (truncate never resets identity allocation); the widened-
    types map clears (no files remain, so there is nothing the map
    could describe — snapshot_write's honest-footer rule). The change
    feed reports every previous row as deleted, computed from the file
    diff alone. On an unmapped table the empty version records its
    reader schema (:func:`_empty_types`)."""
    p = _table(table_path)
    return _transact(p, lambda parent, m: _commit(
        p, [], parent, op="truncate", types_meta=CLEAR_METADATA
    ))


def snapshot_set_column_default(table_path, col: str,
                                default: str | None) -> int:
    """Delta's ``ALTER TABLE t ALTER COLUMN c SET DEFAULT lit`` /
    ``DROP DEFAULT``: changes the WRITE default — what future narrow
    batches omitting the column receive — without touching history.
    The column's birth default (``default`` in the schema metadata)
    keeps resolving files written before the change, Iceberg's
    initial-default vs write-default split: after this DDL, appends
    MATERIALIZE the write default physically into their files (see
    snapshot_append), so every file's value is bound at its own write
    time. ``default=None`` is DROP DEFAULT — later narrow batches
    materialize explicit NULLs. O(metadata)."""

    def mutate(schema: dict) -> dict:
        for c in schema["cols"]:
            if c["name"] == col:
                if c.get("generated") is not None or c.get("identity"):
                    raise ValueError(
                        f"column {col!r} is GENERATED; it cannot carry "
                        "a DEFAULT"
                    )
                # "NULL" literal = DROP DEFAULT sentinel: future narrow
                # writes materialize typed NULLs (the birth default, if
                # any, keeps resolving pre-existing files)
                c["wdefault"] = default if default is not None else "NULL"
                return schema
        raise KeyError(f"no column {col!r} in the table's column mapping")

    return _commit_schema_change(table_path, mutate, op="set-default")


def snapshot_set_properties(table_path, props: dict) -> int:
    """Delta's ``ALTER TABLE t SET TBLPROPERTIES (k='v', ...)``: fold
    the pairs into the manifest's carried properties map — O(metadata),
    existing keys overwrite, others keep. Properties travel with clones
    and revert with RESTORE like every other table metadata."""
    p = _table(table_path)

    def attempt(parent, m):
        cur = dict(m.get("properties") or {})
        cur.update({str(k): str(v) for k, v in props.items()})
        return _recommit(p, parent, m, "set-tblproperties", properties_meta=cur)

    return _transact(p, attempt)


def snapshot_unset_properties(table_path, keys: list) -> int:
    """``ALTER TABLE t UNSET TBLPROPERTIES (k, ...)``: metadata-only
    commit without the named keys (absent keys are ignored — Delta's
    IF EXISTS disposition)."""
    p = _table(table_path)

    def attempt(parent, m):
        cur = dict(m.get("properties") or {})
        for k in keys:
            cur.pop(str(k), None)
        return _recommit(p, parent, m, "unset-tblproperties",
                         properties_meta=cur or CLEAR_METADATA)

    return _transact(p, attempt)


def snapshot_set_column_comment(table_path, col: str, comment: str) -> int:
    """``ALTER TABLE t ALTER COLUMN c COMMENT 'txt'``: O(metadata)
    documentation on the column-mapping entry; DESCRIBE TABLE and SHOW
    CREATE TABLE surface it."""

    def mutate(schema: dict) -> dict:
        for c in schema["cols"]:
            if c["name"] == col:
                c["comment"] = comment
                return schema
        raise KeyError(f"no column {col!r} in the table's column mapping")

    return _commit_schema_change(table_path, mutate, op="set-comment")


def snapshot_sync_identity(spark: SparkSession, table_path) -> int:
    """Delta's ``ALTER TABLE t SYNC IDENTITY``: recompute each identity
    column's high-water mark from the STORED values (after a RESTORE, a
    clone, or any out-of-band history surgery the mark can trail or
    lead the data). The next allocation lands strictly after
    max(stored) on the start + i*step grid; a mark already past the
    data is kept (never moves backward — ids must not be reissued).
    One distributed max() per identity column."""
    from pyspark.sql import functions as F

    p = _table(table_path)
    tip = current_version(p)
    if tip == 0:
        raise FileNotFoundError(f"no snapshot table at {p}")
    sch = _read_manifest(p, tip).get("schema")
    id_cols = _identity_cols(sch)
    if not id_cols:
        raise ValueError(f"{table_path} has no IDENTITY columns")
    df = snapshot_read(spark, p)
    exts = df.agg(
        *[F.max(c["name"]).alias(f"mx_{c['name']}") for c in id_cols],
        *[F.min(c["name"]).alias(f"mn_{c['name']}") for c in id_cols],
    ).first()

    def mutate(schema: dict) -> dict:
        for c in schema["cols"]:
            ident = c.get("identity")
            if not ident:
                continue
            start, step = int(ident["start"]), int(ident["step"])
            # the allocation frontier is the max for ascending steps,
            # the min for descending ones
            e = exts[f"mx_{c['name']}" if step > 0 else f"mn_{c['name']}"]
            if e is None:
                continue
            # smallest k with start + k*step strictly past e in the
            # step's direction (floor-div is exact on-grid, safe off)
            k = (int(e) - start) // step + 1
            ident["next"] = max(int(ident.get("next", 0)), max(k, 0))
        return schema

    return _commit_schema_change(p, mutate, op="sync-identity")


def snapshot_set_constraint(spark: SparkSession, table_path, name: str,
                            expr: str) -> int:
    """ADD CONSTRAINT ... CHECK (expr): validates the table's contents
    first (Delta's semantics — a constraint the standing data violates is
    refused), then commits a metadata-only version carrying the
    constraint; every later write batch is checked against it. Both run
    against each commit round's tip, so a racing writer's rows are
    validated too and its own constraints are kept."""
    from pyspark.sql import functions as F

    p = _table(table_path)

    def attempt(parent, m):
        bad = (
            snapshot_read(spark, p, version=parent)
            .where(
                F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))
                == F.lit(False)
            )
            .limit(1)
            .collect()
        )
        if bad:
            raise SnapshotConstraintViolation(
                f"existing rows violate CHECK {name!r} ({expr}), e.g. "
                f"{bad[0].asDict()}"
            )
        cons = dict(m.get("constraints", {}) or {})
        cons[name] = expr
        return _recommit(p, parent, m, "set-constraint", constraints_meta=cons)

    return _transact(p, attempt)


def snapshot_drop_constraint(table_path, name: str) -> int:
    """DROP CONSTRAINT: metadata-only commit without the named check."""
    p = _table(table_path)

    def attempt(parent, m):
        cons = dict(m.get("constraints", {}) or {})
        cons.pop(name, None)
        return _recommit(p, parent, m, "drop-constraint", constraints_meta=cons)

    return _transact(p, attempt)


def snapshot_restore(table_path, version: int | None = None,
                     as_of_ts: float | None = None) -> int:
    """Delta's RESTORE: commit a NEW version whose content equals an
    older version's — history stays linear (no orphan branch), the change
    feed across the restore reports exactly the rows that reverted, and
    concurrent writers conflict-and-rebase normally. Contrast
    snapshot_rollback, which re-points the tip destructively (the
    operational "undo now" lever); RESTORE is the auditable form a
    production table wants. O(metadata): data files are shared with the
    restored version, nothing is copied."""
    p = Path(table_path)
    rv = (
        snapshot_version_as_of(p, as_of_ts) if as_of_ts is not None
        else version
    )
    if rv is None:
        raise ValueError("pass version or as_of_ts")
    m = _read_manifest(p, rv)
    # restore must reproduce the target version's metadata STATE, including
    # its absence: None means inherit-from-parent in _commit, so a restore
    # to a version predating column mapping / constraints passes the CLEAR
    # sentinel to drop them instead of silently carrying them forward
    schema_meta = m["schema"] if m.get("schema") is not None else CLEAR_METADATA
    constraints_meta = (
        m["constraints"] if m.get("constraints") is not None else CLEAR_METADATA
    )
    types_meta = m["types"] if m.get("types") is not None else CLEAR_METADATA
    partitioning_meta = (
        m["partitioning"]
        if m.get("partitioning") is not None
        else CLEAR_METADATA
    )
    bucketing_meta = (
        m["bucketing"] if m.get("bucketing") is not None else CLEAR_METADATA
    )
    properties_meta = (
        m["properties"] if m.get("properties") is not None else CLEAR_METADATA
    )

    def attempt(parent, _tip):
        # restore-whatever-wins semantics: the target CONTENT is fixed, so
        # a conflict just rebases the same state onto the new tip
        if parent == rv:
            return parent  # restoring the tip is a no-op
        return _recommit(
            p, parent, m, "restore", schema_meta=schema_meta,
            constraints_meta=constraints_meta, types_meta=types_meta,
            partitioning_meta=partitioning_meta,
            bucketing_meta=bucketing_meta, properties_meta=properties_meta,
        )

    return _transact(p, attempt)


def snapshot_vacuum(
    table_path, keep_versions: int = 1, dry_run: bool = False,
) -> list[str]:
    """Delete data files referenced by NO manifest among the latest
    ``keep_versions`` manifests and drop the older manifests. Returns the
    deleted file list. Readers of retained versions are unaffected —
    files they reference are kept. ``dry_run=True`` (Delta's VACUUM ...
    DRY RUN) returns the would-delete DATA file list and touches
    NOTHING — no file deleted, no manifest dropped, no checkpoint
    materialized. Refuses to run inside an open
    SnapshotTransaction: the keep-set would anchor on the txn-local
    STAGED tip, so a subsequent ROLLBACK (or conflict abort) would leave
    the published pointer referencing a vacuumed manifest — permanent
    corruption. Vacuum after COMMIT instead."""
    if getattr(_TXN_LOCAL, "active", None) is not None:
        raise RuntimeError(
            "snapshot_vacuum inside an open SnapshotTransaction would "
            "anchor retention on the staged (unpublished) version; run "
            "VACUUM after COMMIT"
        )
    p = Path(table_path)
    latest = current_version(p)
    # intersect the keep range with manifests actually on disk: an earlier
    # vacuum with a smaller retention may have already deleted part of the
    # range, and a later vacuum with a larger keep_versions must not fail
    # on those gaps (they hold no files to protect)
    on_disk = {int(f.stem[1:]) for f in (p / _MANIFEST_DIR).glob("v*.json")}
    keep = {
        v for v in range(max(1, latest - keep_versions + 1), latest + 1)
    } & on_disk
    # delta-manifest interplay: a kept version whose delta chain passes
    # through a manifest ABOUT TO BE DELETED must be materialized as a
    # full checkpoint first, or it becomes unresolvable. Done before any
    # deletion, so a crash mid-vacuum never strands a version.
    if dry_run:
        live_d: set[str] = set()
        for v in keep:
            live_d.update(_read_manifest(p, v)["files"])
        return sorted(
            f"data/{sub.name}/{f.name}"
            for sub in (p / "data").iterdir()
            for f in sub.iterdir()
            if f.name.endswith(".parquet")
            and f"data/{sub.name}/{f.name}" not in live_d
        )
    for v in sorted(keep):
        if _chain_escapes(p, v, keep):
            _materialize_checkpoint(p, v)
    live: set[str] = set()
    for v in keep:
        live.update(_read_manifest(p, v)["files"])
    deleted = []
    data_root = p / "data"
    for sub in data_root.iterdir():
        for f in sub.iterdir():
            rel = f"data/{sub.name}/{f.name}"
            if f.name.endswith(".parquet") and rel not in live:
                f.unlink()
                deleted.append(rel)
        if not any(sub.iterdir()):
            sub.rmdir()
    # glob v*.json (not iterdir): a hard-killed commit can leave a
    # v<N>.<hex>.tmp beside the manifests, which must not crash the parse
    live_sidecars: set[str] = set()
    for mf in (p / _MANIFEST_DIR).glob("v*.json"):
        v = int(mf.stem[1:])
        raw = json.loads(mf.read_text())
        if v not in keep:
            mf.unlink()
        elif "ckpt_parquet" in raw:
            live_sidecars.add(raw["ckpt_parquet"])
    # parquet-checkpoint sidecars: drop every one no surviving manifest
    # references (dropped versions AND lost-race orphans)
    for sc in (p / _MANIFEST_DIR).glob("*.ckpt.parquet"):
        if sc.name not in live_sidecars:
            sc.unlink()
    # bucketed-view symlink dirs of reclaimed versions: their targets
    # just went away — drop the dirs so a stale registration cannot
    # dangle (a live version's dir stays; re-registration rebuilds any
    # removed one on demand)
    bdir = p / "_bucketed"
    if bdir.exists():
        import shutil as _shutil

        for vd in bdir.iterdir():
            if vd.name.startswith("v") and vd.name[1:].isdigit():
                if int(vd.name[1:]) not in keep:
                    _shutil.rmtree(vd, ignore_errors=True)
    return sorted(deleted)


def _chain_escapes(p: Path, v: int, keep: set) -> bool:
    """True if resolving version ``v`` requires a manifest outside the
    ``keep`` set (i.e. its delta chain crosses the retention boundary)."""
    while True:
        try:
            raw = json.loads(_manifest_path(p, v).read_text())
        except FileNotFoundError:
            return False  # unresolvable already; nothing to protect
        if "delta" not in raw:
            return False
        parent = int(raw["parent"])
        if parent not in keep:
            return True
        v = parent


def _materialize_checkpoint(p: Path, v: int) -> None:
    """Rewrite version ``v``'s manifest as a full checkpoint with the same
    resolved content (semantically identical — readers racing the replace
    see either form and resolve the same state). Used by vacuum so
    retention can drop a kept delta's out-of-window ancestors."""
    m = _read_manifest(p, v)
    full: dict = {"version": v, "parent": m.get("parent", 0),
                  "txn": m.get("txn"), "ckpt_dist": 0}
    # EVERY carried metadata family must appear here: dropping one
    # silently strips it from the materialized version AND from every
    # delta that resolves through it (the round-9 torture test caught
    # exactly that for "types" — a vacuumed widened table read mixed-
    # width files without the explicit schema)
    for fld in ("op", "ts", "txn_app", "txns", "n_files", "schema",
                "constraints", "types", "partitioning", "bucketing",
                "properties", "empty_types"):
        if m.get(fld) is not None:
            full[fld] = m[fld]
    if len(m["files"]) >= CKPT_PARQUET_MIN_FILES:
        full["ckpt_parquet"] = _write_ckpt_sidecar(
            p, v, sorted(m["files"]), m.get("stats", {}) or {},
            m.get("blooms", {}) or {}, m.get("dv", {}) or {},
        )
        full["n_files"] = len(m["files"])
    else:
        full["files"] = sorted(m["files"])
        for fld in ("stats", "blooms", "dv"):
            if m.get(fld):
                full[fld] = m[fld]
    mp = _manifest_path(p, v)
    tmp = mp.with_suffix(f".{uuid.uuid4().hex}.tmp")
    tmp.write_text(json.dumps(full, indent=1))
    os.replace(tmp, mp)


def snapshot_append_once(
    df: DataFrame,
    table_path,
    txn: int,
    txn_app: str | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """Idempotent append: commit df stamped with writer transaction
    ``(txn_app, txn)`` unless a commit by the SAME app with that (or a
    later) txn already landed — in which case this is a no-op returning
    the current version. Namespacing by app id is what makes the check
    safe with multiple writer lineages: raw batch_ids compared globally
    would let two streaming queries (or a restarted query with a fresh
    checkpoint) silently drop each other's micro-batches. The primitive
    under the exactly-once streaming sink, exposed so crash replays are
    directly testable. ``stats_cols`` passes through to snapshot_append
    so stats-pruned tables (the stored-index layouts) keep their new
    files prunable."""
    if txn <= last_txn(table_path, txn_app):
        return current_version(table_path)
    return snapshot_append(df, table_path, txn=txn, txn_app=txn_app, stats_cols=stats_cols)


def stream_snapshot_sink(stream: DataFrame, table_path, checkpoint_dir, app_id: str | None = None):
    """Exactly-once streaming append into the snapshot table: each
    micro-batch commits as ONE version stamped with (app_id, batch_id) as
    the writer transaction id. Structured Streaming replays a micro-batch
    after a crash between sink success and checkpoint advance — the replay
    arrives with the SAME batch_id, the txn stamp shows it already
    committed FOR THIS APP, and the sink skips it: at-least-once delivery
    + idempotent commit = exactly-once table contents. This is precisely
    the foreachBatch + (txnAppId, txnVersion) protocol Delta documents,
    running on the local manifest format. ``app_id`` defaults to the
    checkpoint location — batch_ids are only meaningful within one
    checkpoint lineage, so a restarted query with a FRESH checkpoint gets
    a fresh namespace (its batch 0 commits instead of being skipped), and
    two queries writing to the same table never suppress each other.
    The default is CANONICALIZED (resolve()) so replay detection never
    depends on the spelling of the checkpoint path — a restart launched
    with the absolute form of the same relative checkpoint dir must land
    in the same namespace, not double-commit (same rule as the index
    sinks in streaming/pipeline.py). Replay detection ALSO consults the
    raw-spelling namespace: a checkpoint lineage that stamped txns under
    the pre-canonicalization default must keep skipping its replays
    after an upgrade, not re-commit them under the new namespace.
    """
    resolved_app = (
        app_id if app_id is not None else str(Path(checkpoint_dir).resolve())
    )
    legacy_app = str(checkpoint_dir) if app_id is None else None

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if (
            legacy_app is not None
            and legacy_app != resolved_app
            and batch_id <= last_txn(table_path, legacy_app)
        ):
            return  # already committed under the pre-canonicalization stamp
        snapshot_append_once(batch_df, table_path, txn=batch_id, txn_app=resolved_app)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# File statistics + data skipping (the manifest's second job)
# ---------------------------------------------------------------------------

# Above this many files per commit the footer reads run as a Spark job
# (one task per ~32 files) instead of a driver-side loop: a 100 TB table's
# commit may list tens of thousands of files, and the driver should only
# ever handle the manifest-sized (rel_path -> [min, max]) result, never a
# linear chain of remote footer round-trips.
_DRIVER_STATS_MAX_FILES = 64


# reserved key inside a file's manifest-stats dict: its exact row count
# (parquet footer num_rows). Never collides with a real column's [min,
# max] entry because its value is an int, and the pruning helpers only
# look up caller-named columns.
_ROWS_KEY = "__rows__"


def _stats_canon(v):
    """Canonical JSON-safe encoding for a manifest stat value. Dates and
    timestamps become ISO strings — which ORDER LEXICOGRAPHICALLY the
    same as the underlying values (fixed-width date part; the optional
    fractional-seconds suffix compares correctly because a prefix sorts
    before any extension) — so range/value pruning compares canon(probe)
    against canon(stored) without knowing the column type. Numerics and
    strings pass through untouched."""
    import datetime as _dt

    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    return v


_TIMESTAMP_SHAPE = re.compile(r"\d{4}-\d\d-\d\d[ T]\d")


def _timestamp_shaped(v) -> bool:
    """A timestamp stat or probe spelled as a string. Footer stats spell
    a timestamp with a UTC offset ('2024-01-01T03:00:00+00:00'); SQL
    literals spell it with a space and ``datetime`` probes without an
    offset, so string order between the two is not time order. A bound
    with this shape on either side rejects no file."""
    return isinstance(v, str) and _TIMESTAMP_SHAPE.match(v) is not None


def _file_stats(path: str, stats_cols: list[str]) -> dict:
    """Min/max per column + exact row count for ONE parquet file, from its
    footer (row-group statistics — no data pages touched). When every
    row group also reports a null count, a third element records the
    file's total nulls for the column: ``[min, max, nulls]``. Min/max
    ignore NULLs, so bounds alone can never prove a file's rows ALL
    match a predicate (a NULL row matches nothing) — the null count is
    what lets REPLACE WHERE drop a fully-covered file without reading
    it (Delta's nullCount stat, same role). Readers index ``s[0]`` /
    ``s[1]``, so the 2- and 3-element forms coexist; legacy 2-element
    entries simply prove nothing about nulls."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    col_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    stats: dict = {_ROWS_KEY: md.num_rows}
    for col in stats_cols:
        if col not in col_idx:
            continue
        lo = hi = None
        nulls: int | None = 0
        for rg in range(md.num_row_groups):
            s = md.row_group(rg).column(col_idx[col]).statistics
            if s is None or not s.has_min_max:
                lo = hi = None
                break  # a stats-less row group poisons the file's bound
            lo = s.min if lo is None else min(lo, s.min)
            hi = s.max if hi is None else max(hi, s.max)
            nulls = (
                None
                if nulls is None or s.null_count is None
                else nulls + s.null_count
            )
        if lo is not None:
            stats[col] = (
                [_stats_canon(lo), _stats_canon(hi)]
                if nulls is None
                else [_stats_canon(lo), _stats_canon(hi), nulls]
            )
    return stats


def _collect_stats(
    table_path: Path, files: list[str], stats_cols: list[str], spark: SparkSession | None = None
) -> dict:
    """Per-file min/max for the given columns, read from the parquet
    footers. This is what a production format stores per data file; with
    it, a keyed read prunes files before Spark ever lists them. Small
    commits read footers driver-side (a handful of local opens); commits
    listing more than _DRIVER_STATS_MAX_FILES files DISTRIBUTE the footer
    reads as a Spark job over the file list — the driver receives only the
    manifest-sized stats dict, so the commit path stays bounded no matter
    how many files a 100 TB version lists."""
    per_file = _footer_sweep(
        spark, table_path, files, lambda path: _file_stats(path, stats_cols)
    )
    return {rel: st for rel, st in zip(files, per_file) if st}


def snapshot_delete_range(
    spark: SparkSession, table_path, col: str, lo, hi
) -> int:
    """Copy-on-write DELETE of every row with ``lo <= col <= hi``,
    committed as a new version — the retention / right-to-be-forgotten
    operation (drop a date range, purge a key span). File pruning makes
    it usable at scale: only files whose [min, max] stats overlap the
    range are rewritten (minus the matching rows); every other file is
    carried into the new manifest byte-identical with its stats, exactly
    the stats-pruned upsert's shape. Files without stats for ``col``
    conservatively rewrite. A range no file overlaps commits a
    metadata-only version (an auditable no-op in the history). Old
    versions still time-travel to the deleted rows until vacuum reclaims
    them — retention of the HISTORY is vacuum's job, by design.

    Concurrency: same optimistic disposition as snapshot_upsert — a
    commit conflict reruns the prune+rewrite against the new tip."""
    from pyspark.sql import functions as F

    p = _table(table_path)

    def attempt(parent, m):
        # column-mapped table: the caller's LOGICAL key prunes and filters
        # under its physical name (data files only know that one)
        schema = m.get("schema")
        pcol = _mapping_physical(schema, col) if schema else col
        touched = sorted(_admitted(m, [{pcol: (lo, hi)}]))
        if not touched:
            return _recommit(p, parent, m, "delete")
        kept_rows = _read_files_with_dv(
            spark, p, touched, m.get("dv"), merge_schema=True,
            types=m.get("types"), schema=schema,
        ).where(
            ~((F.col(pcol) >= lo) & (F.col(pcol) <= hi)) | F.col(pcol).isNull()
        ).coalesce(max(1, len(touched)))  # no small-files creep per delete
        return _replace_files(spark, p, parent, m, touched,
                              _write_files(kept_rows, p), "delete")

    return _transact(p, attempt)


# ---------------------------------------------------------------------------
# Deletion vectors: merge-on-read DELETE (Delta DV / Iceberg positional
# deletes). A MOR delete rewrites NO data file — the new manifest carries,
# per touched file, the sorted row positions (parquet row_index) of the
# deleted rows, zlib-packed. Every read filters the (file, position) set
# back out via the parquet _metadata.row_index column, in one core
# (_read_files_with_dv), so the delete is
# O(matched rows) metadata instead of O(touched files) rewrite — the shape
# that makes narrow deletes on a 100 TB table instant. Wide deletes fall
# back to the copy-on-write rewrite above DV_MAX_DELETED_ROWS (a counted
# guard, not a comment): past that point the rewrite is cheaper than
# dragging a large DV through every read, which is also Delta's guidance.
# Compaction/z-order PURGE vectors physically (their reads apply the DV,
# their outputs carry none) — a deleted row can never resurrect.
#
# Every row-level mutation (upsert, merge, delete-range, delete-where,
# update-where, replace-where, partitioned upsert) writes its own files
# and then commits through one of two cores, which own the rule for the
# stats, blooms and vectors a DML commit carries:
# - _replace_files (copy-on-write): new files replace the touched ones,
#   which were read through their vectors; every other file carries
#   byte-identical with its stats, bloom and vector.
# - _grow_dvs (merge-on-read): the hit (_fp, _ri) positions join the
#   vectors and the new files (update images, inserts) append; it commits
#   through _replace_files with nothing touched.
# In both, new files get footer stats and blooms for every column the
# parent tracked. MERGE, UPDATE and DELETE ... WHERE choose between the
# two in one place, _apply_row_actions, the only reader of
# DV_MAX_DELETED_ROWS.
# ---------------------------------------------------------------------------

DV_MAX_DELETED_ROWS = 1_000_000
_DV_RUNS_MAX = 256  # run-compressed DV expression budget; more runs -> join


def _position_runs(positions) -> "list[tuple[int, int]]":
    """Sorted positions -> maximal contiguous [lo, hi] runs. Range deletes
    on clustered files compress to a handful of runs; fully scattered
    vectors degrade to one run per position (the join path handles those)."""
    runs = []
    for p_ in positions:
        p_ = int(p_)
        if runs and p_ == runs[-1][1] + 1:
            runs[-1][1] = p_
        else:
            runs.append([p_, p_])
    return [(a, b) for a, b in runs]


def _pack_positions(positions) -> list:
    """[count, base64(zlib(int64 deltas))] — monotonic deltas compress to
    ~1-2 bytes/position, manifest-friendly like the bloom encoding."""
    import base64
    import zlib

    import numpy as np

    arr = np.asarray(sorted(int(x) for x in positions), dtype=np.int64)
    deltas = np.diff(arr, prepend=np.int64(0))
    packed = base64.b64encode(zlib.compress(deltas.tobytes())).decode()
    return [int(arr.size), packed]


def _unpack_positions(entry) -> "list[int]":
    import base64
    import zlib

    import numpy as np

    n, b64 = int(entry[0]), entry[1]
    deltas = np.frombuffer(zlib.decompress(base64.b64decode(b64)), dtype=np.int64)
    assert deltas.size == n
    return np.cumsum(deltas).tolist()


def _carry_dv(parent_manifest: dict, kept: list[str]) -> dict | None:
    """DV entries for the files a commit KEEPS. Files being rewritten must
    instead have their DV applied during the read (the rewrite
    materializes the deletions, so their vectors are dropped)."""
    dv: dict = parent_manifest.get("dv", {}) or {}
    # keys go through _dv_key: a clone's ABSOLUTE inherited refs carry
    # the source's suffix-keyed vectors (identity for relative refs)
    out = {k: dv[k] for f in kept if (k := _dv_key(f)) in dv}
    return out or None


# Extract a file's TABLE-RELATIVE path (data/<commit>/<name>) from
# Spark's _metadata.file_path. Matching DV keys on this, rather than on a
# predicted absolute "file:<resolved path>" string, makes the read side
# independent of path rendering: a symlinked table root (resolve() sees
# the target, Spark renders the link) or a Spark/Hadoop URI-format change
# would have made the old equality match NOTHING and silently resurrect
# deleted rows. The layout guarantees the last three segments are always
# data/<commit-uuid>/<file>.parquet (_write_files), so the anchored
# extract is exact by construction.
_REL_PATH_RE = r"(data/[^/]+/[^/]+)$"


def _rel_path_col():
    from pyspark.sql import functions as F

    return F.regexp_extract(F.col("_metadata.file_path"), _REL_PATH_RE, 1)


# Reserved row-provenance columns: MOR updates append their images with
# the (file, position) each image replaced, so the change feed can pair
# update_preimage/update_postimage rows. Every read path strips them; any
# rewrite (compaction, upsert merge, z-order) reads through a stripping
# path and so writes files without them — provenance lives exactly as
# long as the file the update appended.
_PROV_COLS = ("_prov_fp", "_prov_ri")


def _strip_prov(df: DataFrame) -> DataFrame:
    return df.drop(*_PROV_COLS)  # no-op when the columns are absent


def _dv_key(f: str) -> str:
    """DV dict key for a manifest file ref: its trailing data/<dir>/<name>
    suffix — exactly what ``_rel_path_col`` extracts from Spark's
    _metadata.file_path, so write-side keys and read-side row tags can
    never drift. For table-relative refs (every non-clone file) this is
    the ref itself; for a shallow clone's ABSOLUTE inherited refs it is
    the suffix the source keyed its vectors by, which is how a clone
    carries the source's deletion vectors without rewriting them.
    (Commit dirs are uuid-named, so two refs in one manifest sharing a
    suffix cannot occur in practice.)"""
    m = re.search(_REL_PATH_RE, f)
    return m.group(1) if m else f


def _replace_files(
    spark: SparkSession, p: Path, parent: int, m: dict, touched,
    new_files: list[str], op: str, *, stats_cols=(),
    new_stats: dict | None = None, **meta,
) -> int:
    """The copy-on-write DML commit: ``new_files`` replace the
    ``touched`` files of ``m`` on top of ``parent``. Every other file
    carries byte-identical with its stats, bloom and deletion vector;
    the touched files' entries drop (their rewrite read through their
    vectors). New files get footer stats for every column the parent
    tracked plus ``stats_cols``, and blooms for every column it
    bloomed. ``new_stats`` holds footer stats the caller already read
    for every new file over all its columns; the tracked ones are kept
    and no footer is opened again. ``meta`` goes to _commit."""
    touched = set(touched)
    untouched = [f for f in m["files"] if f not in touched]
    parent_stats = m.get("stats") or {}
    stats = {f: s for f, s in parent_stats.items() if f not in touched}
    tracked = sorted(
        {c for s in parent_stats.values() for c in s} | set(stats_cols)
    )
    if tracked and new_stats is not None:
        keep = {_ROWS_KEY, *tracked}
        stats.update({
            f: {c: v for c, v in new_stats[f].items() if c in keep}
            for f in new_files
        })
    elif tracked:
        stats.update(_collect_stats(p, new_files, tracked, spark=spark))
    return _commit(p, untouched + new_files, parent, stats=stats or None,
                   blooms=_carry_blooms(p, m, untouched, new_files),
                   dv=_carry_dv(m, untouched), op=op, **meta)


def _grow_dvs(
    spark: SparkSession, p: Path, parent: int, m: dict, hits,
    new_files: list[str], op: str, **meta,
) -> int:
    """The merge-on-read DML commit: the (_fp, _ri) positions of
    ``hits`` (None: no row deleted) join their files' deletion vectors
    and ``new_files`` — update images, inserted rows — append; no file
    of ``m`` is rewritten. One driver pull of per-file position lists,
    bounded by the caller's DV_MAX_DELETED_ROWS check."""
    from pyspark.sql import functions as F

    dv = dict(m.get("dv") or {})
    if hits is not None:
        for r in (
            hits.groupBy("_fp")
            .agg(F.sort_array(F.collect_list("_ri")).alias("pos"))
            .collect()
        ):
            pos = set(r["pos"])
            if r["_fp"] in dv:
                pos |= set(_unpack_positions(dv[r["_fp"]]))
            dv[r["_fp"]] = _pack_positions(pos)
    return _replace_files(spark, p, parent, {**m, "dv": dv}, (), new_files,
                          op, **meta)


def _update_images(
    p: Path, parent: int, aff: DataFrame, data_cols: list[str],
    schema: dict | None,
) -> DataFrame:
    """Write-ready merge-on-read update images: the LOGICAL ``data_cols``
    of ``aff``, CHECKed, under their physical names, plus the
    (_prov_fp, _prov_ri) position of the row each image replaces — the
    change feed pairs them as update_preimage/update_postimage."""
    from pyspark.sql import functions as F

    images = aff.select(
        *data_cols,
        F.col("_fp").alias("_prov_fp"),
        F.col("_ri").alias("_prov_ri"),
    )
    _enforce_constraints(images.drop(*_PROV_COLS), p, parent)
    if schema:
        by_name = {c["name"]: c["physical"] for c in schema["cols"]}
        images = images.select(
            *[F.col(c).alias(by_name[c]) for c in data_cols], *_PROV_COLS,
        )
    return images


def _apply_row_actions(
    spark: SparkSession, p: Path, parent: int, m: dict, scope: list[str],
    rows: "DataFrame | None", delete=None, updates=(), *,
    target: str | None = None, insert_rows=None, ops: tuple, **meta,
) -> int:
    """The one row-level core behind MERGE, UPDATE and DELETE. ``rows``
    are the tagged live rows of the ``scope`` files
    (:func:`_tagged_live_logical`), possibly joined to a source, with the
    target's columns qualified by the alias ``target`` when given; None
    when the scope lists no file. ``delete`` is a Column marking the rows
    the statement deletes and ``updates`` a list of (Column, {column:
    expression}) arms marking the rows it updates and their assignments;
    the caller makes them NULL-free and disjoint. ``insert_rows`` returns
    the insert arm's (rows, schema_meta).

    The affected rows are counted once. Up to DV_MAX_DELETED_ROWS of them
    commit merge-on-read as ``ops[0]`` (:func:`_grow_dvs`): their
    positions grow the deletion vectors, and the update images (at most
    the cap of rows, checkpointed) and the inserts append. More rewrite
    the scope copy-on-write as ``ops[1]`` (:func:`_replace_files`) from
    the same rows: deleted rows drop, updated rows take their images and
    the inserts join. Every assignment casts to its column's current
    type, so no image writes a wider type than the files beside it. A
    pure delete's merge-on-read commit is one count and one position
    collect over the hits."""
    from functools import reduce
    from operator import or_

    from pyspark.sql import functions as F

    sch = m.get("schema")

    def col(c):
        return F.col(f"{target}.{c}" if target else c)

    acts = [a for a in (delete, *(u for u, _s in updates)) if a is not None]
    affected = reduce(or_, acts) if acts else None
    n = rows.where(affected).count() if rows is not None and acts else 0
    if rows is not None:
        own = rows.select(f"{target}.*") if target else rows
        types = {
            f.name: f.dataType for f in own.schema.fields
            if f.name not in ("_fp", "_ri")
        }
        arms = [(u, _normalize_assign_keys(s, types)) for u, s in updates]
        assigned = {c for _u, s in updates for c in s}

        def images(df: DataFrame, arms, *tags) -> DataFrame:
            cols = []
            for c in types:
                e = col(c)
                for u, s in reversed(arms):
                    if c in s:
                        e = F.when(u, _merge_cond(s[c]).cast(types[c])
                                   ).otherwise(e)
                cols.append(e.alias(c))
            return _regen_generated(df.select(*tags, *cols), sch, assigned)

    id_meta = None
    if n <= DV_MAX_DELETED_ROWS:
        hits, new_files = None, []
        if rows is not None and updates:
            if len(acts) == 1:
                # the filter decided every row: the one arm's Column (a
                # correlated subquery, say, which Spark fails to push
                # through the union of a read with vectors) is not
                # projected again
                arms = [(F.lit(True), s) for _u, s in arms]
            hits = images(
                rows.where(affected), arms, col("_fp").alias("_fp"),
                col("_ri").alias("_ri"),
                reduce(or_, [u for u, _s in arms]).alias("_upd"),
            )
            if n:
                hits = hits.localCheckpoint(eager=True)  # <= cap rows
                img = _update_images(p, parent, hits.where(F.col("_upd")),
                                     list(types), sch)
                if not img.isEmpty():
                    new_files = _write_files(img.coalesce(1), p)
        elif rows is not None and delete is not None:
            hits = rows.where(delete).select(
                col("_fp").alias("_fp"), col("_ri").alias("_ri")
            )
        if insert_rows is not None:
            ins, id_meta = insert_rows()
            # CHECKs bite on the allocated rows (identity included)
            _enforce_constraints(ins, p, parent)
            if sch:
                ins = _df_to_physical(ins, sch)
            if not ins.isEmpty():
                new_files = new_files + _write_files(ins, p)
        return _grow_dvs(spark, p, parent, m, hits, new_files, ops[0],
                         schema_meta=id_meta, **meta)
    kept = images(rows if delete is None else rows.where(~delete), arms)
    if insert_rows is not None:
        ins, id_meta = insert_rows()
        kept = kept.unionByName(ins, allowMissingColumns=True)
    kept = kept.coalesce(max(1, len(scope)))  # no small-files creep
    if updates or insert_rows is not None:
        _enforce_constraints(kept, p, parent)
    if sch:
        kept = _df_to_physical(kept, sch)
    new_files, new_stats = _write_nonempty(spark, kept, p)
    return _replace_files(spark, p, parent, m, scope, new_files, ops[1],
                          new_stats=new_stats, schema_meta=id_meta, **meta)


def _default_groups(
    p: Path, rels: list[str], defaults: dict
) -> "list[tuple[frozenset, list[str]]]":
    """``rels`` grouped by the set of defaulted physical columns (keys of
    ``defaults``, see _schema_defaults) their footers lack, in a stable
    order — the per-FILE unit of column-DEFAULT injection. Empty when no
    file lacks one: nothing to inject, and no footer is opened for a
    table without defaults."""
    if not defaults or not rels:
        return []
    groups: dict[frozenset, list[str]] = {}
    for f in rels:
        names = _footer_names(str((p / f).resolve()))
        groups.setdefault(
            frozenset(ph for ph in defaults if ph not in names), []
        ).append(f)
    if len(groups) == 1 and not next(iter(groups)):
        return []
    return sorted(groups.items(), key=lambda kv: sorted(kv[0]))


def _read_files_with_dv(
    spark: SparkSession,
    p: Path,
    rels: list[str],
    dv: dict | None,
    merge_schema: bool = False,
    types: dict | None = None,
    schema: dict | None = None,
    *,
    _tag: bool = False,
    _prov: bool = False,
    _keep: bool = False,
) -> DataFrame:
    """THE Spark read of a snapshot file subset, with a ``{file:
    positions}`` set applied — every reader, CoW rewrite, merge-on-read
    DML match and change-feed read goes through here. Files with
    positions are tagged with (_fp, _ri) (table-relative file path,
    _metadata.row_index) and position-filtered; files without are read
    plain, and a subset with no positions at all skips the tag.

    The position filter DROPS the positions (``dv`` is a table's
    deletion vectors) or, with ``_keep``, keeps only them (the change
    feed's grown-vector delta; files without positions then contribute
    nothing). Up to _DV_RUNS_MAX contiguous [lo, hi] runs it is a
    BETWEEN expression inside whole-stage codegen — no broadcast build,
    no join stage; more runs (scattered vectors) take an arrow-backed
    broadcast semi- or anti-join, still DV-sized by the write-side cap.
    An uncapped OR-fold builds an O(runs)-deep Column tree that
    overflows the converter's stack before any job runs.

    ``types`` (the manifest's widened-type map) switches the read to an
    EXPLICIT schema: Spark's parquet reader performs the widening
    promotion per file (INT32 files surface as bigint, FLOAT as double),
    which mergeSchema cannot do (mixed widths are a merge conflict), and
    columns a pre-evolution file lacks still read as NULL. Without it,
    ``merge_schema`` unions the footers' schemas (a Spark job). Otherwise
    the read is planned on the driver: each scan's schema is the one
    Spark wrote into the footer its own inference would open (the first
    of the sorted paths), read once per file and cached, so planning
    starts no schema job; a footer without that record (another
    writer's file) leaves the inference to Spark. (A scan of more than
    32 paths still starts Spark's parallel file-listing job:
    ``spark.sql.sources.parallelPartitionDiscovery.threshold``.)

    ``schema`` (the manifest's column-mapping meta) activates column
    DEFAULTs: a file that physically LACKS a defaulted column reads it
    as the default expression, not NULL (Iceberg's initial/write-default
    semantics — per-FILE, so a post-add file's explicit NULLs stay
    NULL). Implemented by grouping the rels by their footers'
    lacking-set and injecting per group; tables without defaults skip
    the footer sweep entirely. Kept HERE, under every reader AND every
    CoW rewrite, so compaction/purge/DML images of pre-add files
    materialize the default rather than freezing a NULL. Columns stay
    PHYSICAL; _apply_column_mapping surfaces the logical names.

    Private switches: ``_tag`` keeps (_fp, _ri) on every row (the
    merge-on-read writers match on it; clean files are tagged too);
    ``_prov`` keeps the reserved provenance columns every other read
    strips (the change feed pairs update images by them); ``_keep`` as
    above."""
    from pyspark.sql import functions as F

    defaults = _schema_defaults(schema)
    groups = _default_groups(p, rels, defaults)
    if groups:
        out = None
        for lacking, sub in groups:
            df = _read_files_with_dv(spark, p, sub, dv, merge_schema, types,
                                     _tag=_tag, _prov=_prov, _keep=_keep)
            for ph in sorted(lacking):
                df = df.withColumn(ph, _default_col(*defaults[ph]))
            out = df if out is None else out.unionByName(
                df, allowMissingColumns=True
            )
        return out

    def scan(files: list[str], tag: bool) -> DataFrame:
        paths = [str(p / f) for f in files]
        reader = spark.read
        if types:
            reader = reader.schema(
                _types_ddl_with_prov(types) if _prov else _types_ddl(types)
            )
        elif merge_schema:
            reader = reader.option("mergeSchema", "true")
        else:
            # without mergeSchema Spark infers from ONE footer: the first
            # of its qualified paths in sorted order (ParquetUtils.
            # splitFiles)
            first = min(os.path.normpath(os.path.abspath(f)) for f in paths)
            written = _written_schema(first)
            if written is not None:
                reader = reader.schema(written)
        df = reader.parquet(*paths)
        if not tag:
            return df if _prov else _strip_prov(df)
        # select (not drop) the kept columns: the _metadata pseudo-
        # column resolves only on the scan relation
        cols = [c for c in df.columns if _prov or c not in _PROV_COLS]
        return df.select(
            _rel_path_col().alias("_fp"),
            F.col("_metadata.row_index").alias("_ri"),
            *cols,
        )

    # position lookup goes through _dv_key so a clone's ABSOLUTE
    # inherited refs still find the source's suffix-keyed vectors
    # (identity for every table-relative ref)
    ref_of = {_dv_key(f): f for f in rels}
    positions = {
        k: _unpack_positions(dv[k]) for k in sorted(ref_of) if k in (dv or {})
    }
    runs = {k: _position_runs(pos) for k, pos in positions.items()}
    clean = [f for f in rels if _dv_key(f) not in positions]
    out = None
    if positions:
        tagged = scan([ref_of[k] for k in positions], True)
        if sum(len(rr) for rr in runs.values()) <= _DV_RUNS_MAX:
            hit = F.lit(False)
            for fp, rr in runs.items():
                span = F.lit(False)
                for lo_, hi_ in rr:
                    span = span | F.col("_ri").between(int(lo_), int(hi_))
                hit = hit | ((F.col("_fp") == fp) & span)
            out = tagged.where(hit if _keep else ~hit)
        else:
            import pandas as pd

            pairs = pd.DataFrame(
                [(fp, int(ri)) for fp, pos in positions.items() for ri in pos],
                columns=["_fp", "_ri"],
            )
            out = tagged.join(
                F.broadcast(spark.createDataFrame(pairs)), ["_fp", "_ri"],
                "left_semi" if _keep else "left_anti",
            )
        if not _tag:
            out = out.drop("_fp", "_ri")
    if clean and not _keep:
        # only files WITH positions pay the tag + filter; the clean
        # majority reads plain (at 100 TB deletes touch few files, so
        # the DV overhead tracks the deleted fraction, not the table)
        plain = scan(clean, _tag)
        out = plain if out is None else plain.unionByName(
            out, allowMissingColumns=True
        )
    return out


def snapshot_delete_range_mor(
    spark: SparkSession, table_path, col: str, lo, hi,
) -> int:
    """Merge-on-read DELETE of every row with ``lo <= col <= hi``: commits
    a new version whose manifest adds the matching rows' positions to the
    touched files' deletion vectors — NO data file is rewritten, read or
    copied beyond the position scan, and old versions still time-travel
    to the rows. Stats-pruned like the CoW form (only files whose
    [min, max] can contain the range are even scanned for positions).
    Deletes of more than DV_MAX_DELETED_ROWS rows copy-on-write rewrite
    the touched files instead — counted, not assumed. Same optimistic-retry
    disposition as every writer. This is :func:`snapshot_delete_where`
    pruned by the range's region (general predicates live there)."""
    from pyspark.sql import functions as F

    return snapshot_delete_where(
        spark, table_path,
        (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)),
        _prune_region=[{col: (lo, hi)}],
    )


def snapshot_update_range_mor(
    spark: SparkSession, table_path, col: str, lo, hi,
    assignments: dict,
) -> int:
    """Merge-on-read UPDATE of every row with ``lo <= col <= hi``: the
    matched rows' positions join the touched files' deletion vectors and
    their UPDATED images are appended as new files — ONE commit, no
    touched file rewritten (Delta's deletion-vector-based UPDATE). The
    change feed sees it as paired update images through the appended
    files' reserved provenance columns. ``assignments`` maps column
    name -> Column expression (or SQL string) evaluated against the
    matched rows. Updates of more than DV_MAX_DELETED_ROWS rows route to
    the copy-on-write form — counted, not assumed. Rows already deleted by
    existing vectors are never re-updated or resurrected. Same
    optimistic rebase-retry disposition as every writer. This is
    :func:`snapshot_update_where` pruned by the range's region."""
    from pyspark.sql import functions as F

    return snapshot_update_where(
        spark, table_path,
        (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)),
        assignments,
        _prune_region=[{col: (lo, hi)}],
    )


# ---------------------------------------------------------------------------
# File pruning. One admission rule picks the files a read or a DML
# statement must open. A REGION is a list of disjuncts, each a
# ``{column: (lo, hi)}`` dict of closed bounds (None = open side): a range
# is one disjunct, an IN-list one point disjunct per value, an N-column
# box one disjunct with N entries. A file is kept when ANY disjunct admits
# it; a disjunct rejects a file only when the file's min/max stats exclude
# one of its intervals, or when an interval is a point the file's Bloom
# filter rejects. Missing stats or filters, literals the stats cannot be
# compared with, and timestamp bounds (footer stats and probes spell them
# differently) reject nothing: pruning never loses a row. ``[{}]``
# admits every file; ``[]`` admits none.
#
# SQL predicate strings reach the same rule through a small grammar (the
# commit-side analogue of Delta's data skipping: ``k = 5`` touches only
# files whose [min, max] admit 5). Top-level ORs split into disjuncts;
# within one, the simple ``col <op> literal`` / ``col BETWEEN a AND b``
# conjuncts bound their columns and anything else bounds nothing. Pruning
# is strictly conservative — correctness never depends on the parse.

def _split_top(s: str, word: str) -> list[str]:
    """Split a predicate on the top-level keyword ``word`` ("AND" or
    "OR"): outside quotes and parentheses, and for AND skipping the one
    that belongs to a BETWEEN. Returns the stripped parts ([s] when
    there is no such keyword)."""
    parts, buf = [], []
    depth, in_str, pending_between = 0, False, 0
    i, n = 0, len(s)

    def _word_at(j: int, w: str) -> bool:
        if s[j:j + len(w)].upper() != w:
            return False
        before_ok = j == 0 or not (s[j - 1].isalnum() or s[j - 1] == "_")
        k = j + len(w)
        after_ok = k >= n or not (s[k].isalnum() or s[k] == "_")
        return before_ok and after_ok

    while i < n:
        ch = s[i]
        if in_str:
            in_str = ch != "'"
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            if word == "AND" and _word_at(i, "BETWEEN"):
                pending_between += 1
            elif _word_at(i, word):
                if word == "AND" and pending_between:
                    pending_between -= 1
                else:
                    parts.append("".join(buf))
                    buf = []
                    i += len(word)
                    continue
        buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return [x.strip() for x in parts]


def _parse_pred_literal(txt: str):
    """SQL literal -> python value comparable against manifest stats
    (numbers stay numeric; DATE/TIMESTAMP strings become the ISO strings
    _stats_canon records). None = not a recognized literal."""
    txt = txt.strip()
    m = re.fullmatch(r"-?\d+", txt)
    if m:
        return int(txt)
    m = re.fullmatch(r"-?\d+\.\d+", txt)
    if m:
        return float(txt)
    m = re.fullmatch(r"(?i)(?:DATE|TIMESTAMP)?\s*'([^']*)'", txt)
    if m:
        return m.group(1)
    return None


_PRED_CMP_RE = re.compile(
    r"^\(*\s*(?P<col>[A-Za-z_]\w*)\s*(?P<op><=|>=|==|=|<|>)\s*"
    r"(?P<lit>-?\d+(?:\.\d+)?|(?:(?i:DATE|TIMESTAMP)\s*)?'[^']*')\s*\)*$"
)
_PRED_BETWEEN_RE = re.compile(
    r"^\(*\s*(?P<col>[A-Za-z_]\w*)\s+(?i:BETWEEN)\s+"
    r"(?P<lo>-?\d+(?:\.\d+)?|(?:(?i:DATE|TIMESTAMP)\s*)?'[^']*')\s+(?i:AND)\s+"
    r"(?P<hi>-?\d+(?:\.\d+)?|(?:(?i:DATE|TIMESTAMP)\s*)?'[^']*')\s*\)*$"
)


def _strip_parens(s: str) -> str:
    """Strip balanced outer parentheses: '(k BETWEEN 1 AND 5)' ->
    'k BETWEEN 1 AND 5' (so a parenthesized disjunct's conjuncts
    extract). Leaves '(a) OR (b)'-shaped strings alone."""
    s = s.strip()
    while s.startswith("(") and s.endswith(")"):
        depth = 0
        for i, ch in enumerate(s):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0 and i != len(s) - 1:
                    return s  # outer parens don't wrap the whole string
        s = s[1:-1].strip()
    return s


def _predicate_constraints(cond: str, exact: bool = False) -> dict[str, list] | None:
    """{column: [lo, hi]} bounds implied by the predicate's top-level
    conjuncts (None bound = unconstrained). Only simple
    ``col <op> literal`` / ``col BETWEEN a AND b`` conjuncts contribute;
    a top-level OR gives no bounds.

    By default the bounds are CONSERVATIVE: any other conjunct simply
    contributes nothing and strict ``<``/``>`` bound as closed, which is
    all pruning needs (extra files are safe). ``exact=True`` returns the
    bounds only when the predicate IS the conjunction of the closed
    intervals, else None — every conjunct parsed (no subquery, function,
    IS NULL, ``<>``, OR...) and none strict (containment against the
    closed interval would claim boundary rows match). Proving a file's
    rows ALL match (REPLACE WHERE's drop) needs exact bounds."""
    if len(_split_top(cond, "OR")) > 1:
        return None if exact else {}
    out: dict[str, list] = {}
    for c in filter(None, _split_top(cond, "AND")):
        m = _PRED_BETWEEN_RE.match(c)
        if m:
            col = m.group("col")
            lo = _parse_pred_literal(m.group("lo"))
            hi = _parse_pred_literal(m.group("hi"))
        elif (m := _PRED_CMP_RE.match(c)) is not None:
            col, op = m.group("col"), m.group("op")
            if exact and op in ("<", ">"):
                return None
            lit = _parse_pred_literal(m.group("lit"))
            lo = None if op in ("<", "<=") else lit
            hi = None if op in (">", ">=") else lit
        elif exact:
            return None  # opaque conjunct: the bounds are not the predicate
        else:
            continue
        if exact and (_timestamp_shaped(lo) or _timestamp_shaped(hi)):
            return None  # a timestamp conjunct is opaque too
        b = out.setdefault(col, [None, None])
        if lo is not None and (b[0] is None or lo > b[0]):
            b[0] = lo
        if hi is not None and (b[1] is None or hi < b[1]):
            b[1] = hi
    return (out or None) if exact else out


def _predicate_region(cond: str) -> list[dict]:
    """The region of a SQL predicate string: one disjunct per top-level
    OR arm, bounded by the arm's conservative constraints (e.g.
    ``k BETWEEN 1 AND 5 OR k BETWEEN 900 AND 950`` touches only files
    overlapping either range). An arm with no constraint makes the whole
    predicate unprunable: [{}]."""
    arms = _split_top(cond, "OR")
    if len(arms) > 1:
        arms = [_strip_parens(a) for a in arms]
    region = [_predicate_constraints(a) for a in arms]
    return region if all(region) else [{}]


def _physical_region(schema: dict | None, region: list,
                     known_only: bool = False) -> list[dict]:
    """A region over LOGICAL column names renamed to the physical names
    the manifest's stats and filters are keyed by (as is on unmapped
    tables). A name the mapping lacks raises _mapping_physical's
    KeyError; with ``known_only`` its constraint is dropped instead —
    for names read out of SQL text, where dropping only widens the
    prune."""
    if not schema:
        return region
    known = {c["name"] for c in schema["cols"]}
    return [
        {
            _mapping_physical(schema, c): b
            for c, b in d.items()
            if not known_only or c in known
        }
        for d in region
    ]


def _where_region(schema: dict | None, where) -> list[dict]:
    """Physical region of a logical ``where``: a SQL predicate string, a
    region, or a Column (whose text is unreadable: [{}])."""
    from pyspark.sql import Column

    if isinstance(where, str):
        return _physical_region(
            schema, _predicate_region(where), known_only=True
        )
    if isinstance(where, Column):
        return [{}]
    if not isinstance(where, (list, tuple)) or not all(
        isinstance(d, dict) for d in where
    ):
        raise TypeError(
            "where must be a SQL predicate string or a region (a list of "
            f"{{column: (lo, hi)}} dicts), not {where!r}"
        )
    return _physical_region(schema, list(where))


def _admitted(m: dict, region: list) -> list[str]:
    """The files of manifest ``m`` that can hold a row in ``region`` (over
    physical column names), in manifest order — the admission rule of
    the section comment above."""
    stats = m.get("stats") or {}
    blooms = m.get("blooms") or {}
    region = [
        {c: (_stats_canon(lo), _stats_canon(hi)) for c, (lo, hi) in d.items()}
        for d in region
    ]

    def _admits(rel: str, d: dict) -> bool:
        fstats, fblooms = stats.get(rel, {}), blooms.get(rel, {})
        for c, (lo, hi) in d.items():
            s = fstats.get(c)
            if s is not None and any(map(_timestamp_shaped, (s[0], lo, hi))):
                continue  # timestamp bounds can't reject, Bloom included
            if s is not None:
                try:
                    if (hi is not None and s[0] > hi) or (
                        lo is not None and s[1] < lo
                    ):
                        return False
                except TypeError:
                    continue  # incomparable literal: the column can't reject
            if (
                lo is not None and lo == hi and c in fblooms
                and _bloom_rejects(fblooms[c], lo, s)
            ):
                return False
        return True

    return [
        rel for rel in m["files"] if any(_admits(rel, d) for d in region)
    ]


def snapshot_files(table_path, where, version: int | None = None) -> list[str]:
    """The files of a snapshot that can hold rows matching ``where``, in
    manifest order. ``where`` is a SQL predicate string (top-level ORs of
    simple range/equality conjuncts prune; any other shape keeps every
    file, and a column the table lacks drops its constraint) or a region
    — a list of ``{column: (lo, hi)}`` disjuncts with closed bounds and
    None for an open side (an IN-list is one point disjunct per value; a
    column the table lacks raises KeyError). Names are LOGICAL on
    column-mapped tables. See the section comment for the admission
    rule."""
    p = Path(table_path)
    m = _read_manifest(p, current_version(p) if version is None else version)
    return _admitted(m, _where_region(m.get("schema"), where))


def _tagged_live_logical(spark, p: Path, m: dict, touched: list[str],
                         types: dict | None = None) -> DataFrame:
    """The LIVE rows of ``touched`` files of ``m`` tagged with their
    (_fp, _ri) positions, under logical names — what the MOR delete,
    update and merge writers match on. One tagged _read_files_with_dv
    (``types``, default the manifest's, as its explicit read schema;
    vectors applied, so dead rows can neither match nor resurrect;
    per-file column defaults injected) plus _apply_column_mapping."""
    sch = m.get("schema")
    df = _read_files_with_dv(
        spark, p, touched, m.get("dv"), merge_schema=True,
        types=m.get("types") if types is None else types, schema=sch,
        _tag=True,
    )
    return _apply_column_mapping(df, sch, keep=("_fp", "_ri")) if sch else df


def _where_rows(spark, p: Path, m: dict, condition, region, alias):
    """The tagged live rows a DELETE or UPDATE ... WHERE ``condition``
    matches against, named ``alias`` for the condition's scope, and the
    files they come from: those of ``m`` that ``region`` (else the
    region ``condition`` implies) admits. (None, []) when none is."""
    touched = sorted(
        _admitted(m, _where_region(m.get("schema"), region or condition))
    )
    if not touched:
        return None, []
    rows = _tagged_live_logical(spark, p, m, touched)
    return (rows.alias(alias) if alias else rows), touched


def snapshot_delete_where(
    spark: SparkSession, table_path, condition,
    _prune_region: list | None = None,
    table_alias: str | None = None,
) -> int:
    """Merge-on-read DELETE of every row matching an arbitrary predicate
    (``DELETE FROM t WHERE k = 5 AND status <> 'F'``): the matched LIVE
    rows' positions join the touched files' deletion vectors — no data
    file rewritten. ``condition`` is a SQL string (over logical column
    names; string form enables file pruning by the region its text
    implies, as :func:`snapshot_files` reads it) or a Column (correct,
    but scans every file). A NULL predicate value deletes nothing (SQL WHERE
    semantics). Deletes of more than DV_MAX_DELETED_ROWS rows (read when
    the statement runs) copy-on-write rewrite the touched files instead —
    counted, not assumed (:func:`_apply_row_actions`). Same
    optimistic rebase-retry disposition as every writer. The range form
    :func:`snapshot_delete_range_mor` is this pruned by the range's
    region (``_prune_region``).

    ``table_alias`` names the target relation for the predicate's scope
    (the catalog passes the SQL table name) so correlated subqueries can
    qualify outer references — ``DELETE FROM t WHERE EXISTS (SELECT 1
    FROM s WHERE s.k = t.k)``. Required whenever the subquery's own
    relations share a column name with the target: an UNQUALIFIED
    ``s.k = k`` resolves ``k`` against the inner scope first (standard
    SQL), silently decorrelating the predicate."""
    from pyspark.sql import functions as F

    p = _table(table_path)
    matched = F.coalesce(_merge_cond(condition), F.lit(False))

    def attempt(parent, m):
        rows, touched = _where_rows(spark, p, m, condition, _prune_region,
                                    table_alias)
        if not touched:
            return _recommit(p, parent, m, "delete-mor")
        return _apply_row_actions(spark, p, parent, m, touched, rows,
                                  matched, ops=("delete-mor", "delete"))

    return _transact(p, attempt)


def snapshot_update_where(
    spark: SparkSession, table_path, condition, assignments: dict,
    _prune_region: list | None = None,
    table_alias: str | None = None,
) -> int:
    """Merge-on-read UPDATE of every row matching an arbitrary predicate
    (``UPDATE t SET v = v + 1 WHERE k = 5``): matched rows' positions
    join the deletion vectors and their updated images append as new
    files carrying row provenance — ONE commit, no touched file
    rewritten, the change feed pairs the images as updates. Same
    condition/pruning contract as :func:`snapshot_delete_where`
    (including ``table_alias`` scoping correlated subqueries' outer
    references); updates of more than DV_MAX_DELETED_ROWS rows
    copy-on-write rewrite instead. Each assignment casts to its column's
    current type. The range form :func:`snapshot_update_range_mor` is
    this pruned by the range's region."""
    from pyspark.sql import functions as F

    p = _table(table_path)
    if current_version(p) == 0:
        raise FileNotFoundError(f"no snapshot table at {p}")
    # Spark resolves identifiers case-insensitively and
    # _normalize_assign_keys later re-keys the map onto the table's
    # spellings, so this guard must match the same way: `SET ID = 99`
    # on identity column `id` is the same refused assignment.
    id_lower = {
        c["name"].lower()
        for c in _identity_cols(
            _read_manifest(p, current_version(p)).get("schema")
        )
    }
    bad_id = {k for k in assignments if k.lower() in id_lower}
    if bad_id:
        raise ValueError(
            f"column(s) {sorted(bad_id)} are GENERATED ALWAYS AS "
            "IDENTITY and cannot be assigned by UPDATE"
        )
    matched = F.coalesce(_merge_cond(condition), F.lit(False))

    def attempt(parent, m):
        rows, touched = _where_rows(spark, p, m, condition, _prune_region,
                                    table_alias)
        if not touched:
            return _recommit(p, parent, m, "update-mor")
        return _apply_row_actions(spark, p, parent, m, touched, rows,
                                  updates=[(matched, assignments)],
                                  ops=("update-mor", "update"))

    return _transact(p, attempt)


def snapshot_replace_where(
    spark: SparkSession,
    table_path,
    condition: str | None,
    df: DataFrame,
    stats_cols: list[str] | None = None,
) -> int:
    """Delta's ``INSERT INTO t REPLACE WHERE cond SELECT ...`` (and, with
    ``condition=None``, plain ``INSERT OVERWRITE``): ONE atomic commit
    that swaps the predicate's region for the replacement rows.

    Three file dispositions, chosen per file from manifest stats alone:
    files whose stats PROVE every row matches (interval containment for
    an exactly-extracted conjunctive range predicate, plus a recorded
    zero null count — min/max ignore NULLs, so bounds alone can never
    prove containment) DROP with no read; files that may straddle the
    boundary rewrite keeping only non-matching rows (their deletion
    vectors fold in); untouched files carry byte-identical. At scale
    that's the difference between rewriting a whole partition and a
    metadata-only drop plus two boundary-file rewrites.

    The replacement rows must ALL satisfy the predicate — Delta's
    replaceWhere constraint check — else the commit refuses (a row
    outside the region would silently survive the next REPLACE of the
    same region). Composes with column mapping (logical in, physical
    files), type widening (batch upcasts; boundary rewrites read through
    the types map), partition specs (replacement routes per partition
    value), and CHECK constraints. Bucketed tables refuse loudly — a
    partial rewrite would break the registered CLUSTERED BY layout.
    ``condition=None`` replaces everything: no validation, no reads, and
    the widened-types map CLEARS (snapshot_write's honest-footer rule);
    partial replaces inherit it — old untouched files still need it.

    Reference parity: the reference's full-refresh table loads
    (glue_jobs/dynamic-data-processor.py overwrite mode) are
    condition=None; the date-scoped re-load shape is the predicate form.
    """
    from pyspark.sql import functions as F

    p = _table(table_path)
    if current_version(p) == 0:
        raise FileNotFoundError(f"no snapshot table at {p}")
    matched = (
        F.coalesce(_merge_cond(condition), F.lit(False))
        if condition is not None
        else F.lit(True)
    )
    if condition is not None:
        bad = df.where(~F.coalesce(_merge_cond(condition), F.lit(False)))
        if bad.limit(1).count():
            raise ValueError(
                "REPLACE WHERE: replacement rows must satisfy the "
                f"predicate {condition!r} (found at least one that "
                "does not)"
            )

    def attempt(parent, m):
        if m.get("bucketing"):
            raise NotImplementedError(
                "REPLACE WHERE on a bucketed table would break the "
                "registered CLUSTERED BY layout; OPTIMIZE after a "
                "rebucketing write instead"
            )
        schema = m.get("schema")
        types = m.get("types")
        stats: dict = m.get("stats", {}) or {}
        _enforce_constraints(df, p, parent)
        # identity columns allocate for the replacement rows, from this
        # ATTEMPT's high-water marks (a conflict re-enters the loop and
        # re-derives — the same restart protocol the other writers use);
        # explicit values refuse (ALWAYS semantics). Write defaults and
        # generated columns resolve exactly as on append.
        work, id_schema_meta = _allocate_identity(
            _materialize_generated(_materialize_wdefaults(df, schema), schema),
            schema,
        )
        if id_schema_meta:
            # constraints referencing identity columns were deferred
            # pre-allocation; re-enforce against allocated values
            _enforce_identity_constraints(work, p, parent, m)
        batch = _df_to_physical(work, schema) if schema else work
        if schema:
            # same declared-type discipline as snapshot_append: writing
            # into an empty-DDL table (no standing files) must not freeze
            # a bare SQL literal's narrower physical type; void columns
            # always cast
            declared = {c["physical"]: c["type"] for c in schema["cols"]}
            first_write = not m.get("files")
            batch = batch.select(*[
                F.col(c).cast(declared[c]).alias(c)
                if c in declared and (
                    first_write or dict(batch.dtypes)[c] == "void"
                )
                else F.col(c)
                for c in batch.columns
            ])
        batch, widen_types = _apply_type_widening(batch, p, m)
        if condition is None:
            touched = list(m["files"])
            dropped, boundary = set(touched), []
        else:
            touched = sorted(_admitted(m, _where_region(schema, condition)))
            exact = _predicate_constraints(condition, exact=True)
            if exact:
                phys = _physical_region(schema, [exact], known_only=True)[0]
                exact = phys if len(phys) == len(exact) else None

            def _contained(rel: str) -> bool:
                # every constrained column: stats present, zero nulls
                # recorded, interval inside the predicate's
                for c, (lo, hi) in (exact or {}).items():
                    s = stats.get(rel, {}).get(c)
                    if s is None or len(s) < 3 or s[2] != 0:
                        return False
                    if _timestamp_shaped(s[0]):
                        return False
                    try:
                        if lo is not None and s[0] < _stats_canon(lo):
                            return False
                        if hi is not None and s[1] > _stats_canon(hi):
                            return False
                    except TypeError:
                        return False
                return bool(exact)

            dropped = {rel for rel in touched if _contained(rel)}
            boundary = [rel for rel in touched if rel not in dropped]
        rewritten: list[str] = []
        if boundary:
            cur = _read_files_with_dv(
                spark, p, boundary, m.get("dv"), merge_schema=True,
                types=types, schema=schema,
            )
            if schema:
                cur = _apply_column_mapping(cur, schema)
            kept = cur.where(~matched)
            if schema:
                kept = _df_to_physical(kept, schema)
            rewritten = _write_files(
                kept.coalesce(max(1, len(boundary))), p
            )
        spec = m.get("partitioning")
        part_cols = [
            _mapping_physical(schema, c) if schema else c
            for c in ((spec or {}).get("cols") or [])
        ]
        if part_cols:
            missing = [c for c in part_cols if c not in batch.columns]
            if missing:
                raise ValueError(
                    f"replacement batch lacks partition column(s) "
                    f"{missing}"
                )
            new_files = _write_files_by_partition(
                batch, p, part_cols, what="partitioned replace"
            )
        else:
            new_files = _write_files(batch, p)
        return _replace_files(
            spark, p, parent, m, touched, rewritten + new_files,
            "overwrite" if condition is None else "replace-where",
            stats_cols=[*(stats_cols or []), *part_cols],
            schema_meta=id_schema_meta,
            types_meta=(
                CLEAR_METADATA
                if condition is None
                else _merge_type_maps(types, widen_types)
                if widen_types is not None
                else None
            ),
        )

    return _transact(p, attempt)


def snapshot_read_incremental(
    spark: SparkSession, table_path, since_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Incremental consumption of an append feed: the rows of files ADDED
    between two versions (Iceberg's incremental read / the source side of
    a Delta streaming read). Cost is O(files added in the window) — the
    table's standing files are never listed or opened, which is what
    makes per-cycle consumption of a 100 TB table viable. Rows
    DV-deleted as of the window's end are not emitted. For tables whose
    window includes rewrites (upserts/compactions), use
    snapshot_change_feed — added files then contain carried rows that a
    pure file diff would over-report."""
    p = Path(table_path)
    v_to = current_version(p) if to_version is None else to_version
    added = _manifest_diff(p, since_version, v_to)[0]
    if not added:
        return snapshot_read(spark, p, version=v_to).limit(0)
    m_to = _read_manifest(p, v_to)
    sch = m_to.get("schema")
    # as in snapshot_read: the mapping must see every physical generation
    df = _read_files_with_dv(spark, p, added, m_to.get("dv"),
                             merge_schema=sch is not None,
                             types=m_to.get("types"), schema=sch)
    return _apply_column_mapping(df, sch) if sch else df


def _align_schemas(a: DataFrame, b: DataFrame) -> "tuple[DataFrame, DataFrame]":
    """Project both frames onto the BY-NAME union of their columns
    (missing columns become typed NULLs), so EXCEPT ALL over a
    schema-evolved window compares full rows instead of raising or
    silently dropping late-added columns."""
    from pyspark.sql import functions as F

    types: dict = {}
    order: list[str] = []
    for df in (a, b):
        for f in df.schema.fields:
            if f.name not in types:
                types[f.name] = f.dataType
                order.append(f.name)

    def proj(df: DataFrame) -> DataFrame:
        have = set(df.columns)
        return df.select(
            *[
                (F.col(c) if c in have else F.lit(None).cast(types[c])).alias(c)
                for c in order
            ]
        )

    return proj(a), proj(b)


def snapshot_change_feed(
    spark: SparkSession, table_path, v_from: int, v_to: int | None = None,
    updates_as: str = "netflow",
) -> DataFrame:
    """NET row-level changes between two versions, as the data columns
    plus a ``_change_type`` column — the manifest-aware form of a change
    data feed. The scale property is the point: only files that CHANGED
    between the versions are read (added files, removed files, and the
    DV-delta positions of kept files); untouched files — the
    overwhelming majority of a 100 TB table under incremental load — are
    never opened, where a naive snapshot diff (orders_cdc_snapshot_diff's
    full-outer join) scans both versions in full. Carried rows (a pruned
    rewrite re-emits untouched rows into new files) cancel via EXCEPT ALL
    on row content, so the feed reports net effects.

    ``updates_as='netflow'`` (default): an update appears as
    delete(old)+insert(new), a delete as delete(row), an
    insert-then-delete within the window as nothing.

    ``updates_as='updates'``: MOR-updated rows pair via the reserved row
    PROVENANCE columns their update appended (_prov_fp/_prov_ri — the
    (file, position) each image replaced) and report as
    'update_preimage' / 'update_postimage' instead (Delta's CDF update
    semantics). Pairing degrades gracefully: an image whose origin file
    left the window's kept set (compacted away, or a multi-commit window
    rewrote it) falls back to insert/delete, never silently drops.

    The file-level window — added, removed and grown deletion vectors —
    is :func:`_manifest_diff`, the same diff the streaming change feed
    plans each commit step from."""
    from pyspark.sql import functions as F

    p = Path(table_path)
    v_to = current_version(p) if v_to is None else v_to
    m_from, m_to = _read_manifest(p, v_from), _read_manifest(p, v_to)
    added, removed, grown = _manifest_diff(p, v_from, v_to)
    dv_from, dv_to = m_from.get("dv"), m_to.get("dv")
    sch = m_to.get("schema")

    def read(rels, dv, m, **kw):
        # PHYSICAL reads (physical names survive renames, so EXCEPT ALL
        # still cancels carried rows), defaulted by the to-side mapping
        # so a carried row and its pre-image agree; merge_schema because
        # a schema-evolved window's file sets can disagree on columns
        return _read_files_with_dv(
            spark, p, rels, dv, merge_schema=True, types=m.get("types"),
            schema=sch, **kw,
        )

    def empty(v, m):
        df = snapshot_read(spark, p, version=v).limit(0)
        return _df_to_physical(df, m["schema"]) if m.get("schema") else df

    # updates mode: split added files into provenance-carrying (MOR
    # update appends) and plain, by footer inspection (metadata-only)
    prov_added: list[str] = []
    plain_added = added
    if updates_as == "updates" and added:
        has_prov = _footer_sweep(
            spark, p, added, lambda path: _PROV_COLS[0] in _footer_names(path)
        )
        prov_added = [f for f, has in zip(added, has_prov) if has]
        plain_added = [f for f, has in zip(added, has_prov) if not has]

    ins = read(plain_added, dv_to, m_to) if plain_added else empty(v_to, m_to)
    dels = read(removed, dv_from, m_from) if removed else empty(v_from, m_from)
    ins, dels = _align_schemas(ins, dels)
    if sch:
        # compare on the live physicals only: a dropped column's
        # physical survives in the from-side files but not in their
        # rewrites, and would keep every carried row from cancelling
        live = {c["physical"] for c in sch["cols"]}
        cols = [c for c in ins.columns if c in live]
        ins, dels = ins.select(*cols), dels.select(*cols)
    net_ins = ins.exceptAll(dels)
    net_del = dels.exceptAll(ins)
    pre_tagged = None  # grown-delta rows WITH (_fp, _ri), updates mode
    if grown:
        # kept files whose deletion vectors GREW: those positions were
        # alive at v_from and dead at v_to — deletes with no matching
        # rewrite. Read ONLY the delta positions; the from-side types map
        # types the rows that DIED
        matches = read(
            sorted(grown), {_dv_key(f): pos for f, pos in grown.items()},
            m_from, _tag=updates_as == "updates", _keep=True,
        )
        if updates_as == "updates":
            pre_tagged = matches  # pairing decides delete vs preimage
        else:
            net_del = net_del.unionByName(matches, allowMissingColumns=True)
    ct = "_change_type"
    out = net_ins.withColumn(ct, F.lit("insert")).unionByName(
        net_del.withColumn(ct, F.lit("delete")), allowMissingColumns=True
    )
    if updates_as == "updates" and (prov_added or pre_tagged is not None):
        # pair postimages (provenance-carrying added rows, minus any
        # already dead at v_to, WITH the provenance columns — they are
        # the pairing key) with preimages (the grown DV-delta rows)
        post = read(prov_added, dv_to, m_to, _prov=True) if prov_added else None
        data_of = lambda df, extra: [c for c in df.columns if c not in extra]  # noqa: E731
        if post is not None and pre_tagged is not None:
            pre_keys = pre_tagged.select(
                F.col("_fp").alias("_prov_fp"), F.col("_ri").alias("_prov_ri")
            )
            post_keys = post.select("_prov_fp", "_prov_ri")
            pk = ["_prov_fp", "_prov_ri"]
            post_m = post.join(F.broadcast(pre_keys), pk, "left_semi")
            post_u = post.join(F.broadcast(pre_keys), pk, "left_anti")
            pre_j = pre_tagged.withColumnsRenamed(
                {"_fp": "_prov_fp", "_ri": "_prov_ri"}
            )
            pre_m = pre_j.join(F.broadcast(post_keys), pk, "left_semi")
            pre_u = pre_j.join(F.broadcast(post_keys), pk, "left_anti")
            out = out.unionByName(
                post_m.select(*data_of(post_m, set(pk)))
                .withColumn(ct, F.lit("update_postimage")),
                allowMissingColumns=True,
            ).unionByName(
                post_u.select(*data_of(post_u, set(pk)))
                .withColumn(ct, F.lit("insert")),
                allowMissingColumns=True,
            ).unionByName(
                pre_m.select(*data_of(pre_m, set(pk)))
                .withColumn(ct, F.lit("update_preimage")),
                allowMissingColumns=True,
            ).unionByName(
                pre_u.select(*data_of(pre_u, set(pk)))
                .withColumn(ct, F.lit("delete")),
                allowMissingColumns=True,
            )
        elif post is not None:  # provenance but origin files left the window
            out = out.unionByName(
                post.select(*data_of(post, set(_PROV_COLS)))
                .withColumn(ct, F.lit("insert")),
                allowMissingColumns=True,
            )
        else:  # grown deltas but no provenance files: plain deletes
            out = out.unionByName(
                pre_tagged.select(*data_of(pre_tagged, {"_fp", "_ri"}))
                .withColumn(ct, F.lit("delete")),
                allowMissingColumns=True,
            )
    # map ONCE, by the to-side mapping: the feed's columns are
    # snapshot_read(v_to)'s plus _change_type
    return _apply_column_mapping(out, sch, keep=(ct,)) if sch else out


def snapshot_row_count(table_path, version: int | None = None) -> int | None:
    """COUNT(*) of a snapshot answered from the MANIFEST alone — no file
    opened, no Spark job: the sum of the per-file footer row counts
    recorded at commit time. Returns None when any listed file predates
    row-count collection (the caller falls back to a real count; pruning
    semantics: metadata answers must never guess). This is the table-
    format fast path every engine special-cases (Delta/Iceberg answer
    SELECT COUNT(*) from their logs) — at 100 TB the difference between a
    metadata read and a full scan."""
    p = Path(table_path)
    v = current_version(p) if version is None else version
    if v == 0:
        # same descriptive error as snapshot_read — not a bare
        # FileNotFoundError from a v0.json probe
        raise FileNotFoundError(f"no committed version in {table_path}")
    m = _read_manifest(p, v)
    stats = m.get("stats", {})
    dv = m.get("dv", {}) or {}
    total = 0
    for rel in m["files"]:
        n = stats.get(rel, {}).get(_ROWS_KEY)
        if n is None:
            return None
        total += int(n)
        k = _dv_key(rel)
        if k in dv:  # merge-on-read: deleted positions leave the count
            total -= int(dv[k][0])
    return total


def _rewrite(
    spark: SparkSession, p: Path, op: str, pick, arrange,
    stats_cols: list[str] | None = None, merge_schema: bool = True,
    logical: bool = False, logical_merge: bool = False,
) -> int:
    """The one rewrite behind every maintenance rewriter (OPTIMIZE,
    OPTIMIZE WHERE, auto-compaction, REORG PURGE, ZORDER): a metadata
    swap over rewritten data, never an in-place mutation. Each commit
    round of _transact re-reads the tip manifest and asks the
    operation's policy:

    - ``pick(m, parent)``: the files to rewrite, or None to commit
      nothing (the current version is returned). An empty pick commits
      the parent's files unchanged — an auditable no-op version.
    - ``arrange(df, touched, phys)``: lay the read frame out for the
      write (coalesce, range split, merge fold, Morton curve), or None
      to write no file. ``phys`` maps a LOGICAL column name to its name
      in ``df``.

    The picked files are read with their deletion vectors applied (their
    dead rows vanish physically) and without provenance columns, as the
    PHYSICAL frame (``merge_schema`` unions their footers). With
    ``logical``, a pick of every live file instead reads the table's
    LOGICAL frame through snapshot_read (``logical_merge``), arranges it
    by logical names and maps it back to the frozen physical names — a
    logical-named file would read as all-NULL under the mapping after a
    rename, and manifest stats key the same physical space.

    Untouched files carry byte-identical with their stats, blooms and
    DVs; new files get blooms for every column the parent tracked, and
    stats for ``stats_cols`` (logical names) or, when None, for the
    columns the manifest already tracks. The widened-types map is
    inherited: carried files keep their narrow footers, which reads cast
    up through it. Old versions stay time-travelable; vacuum reclaims
    the replaced files. A writer landing mid-rewrite makes the commit
    conflict — committing the stale file set would drop its rows — so
    the next attempt re-reads the new tip and redoes the rewrite."""

    def attempt(parent, m):
        touched = pick(m, parent)
        if touched is None:
            return parent
        sch = m.get("schema")

        def phys(c):
            return _mapping_physical(sch, c) if sch else c

        gone = set(touched)
        kept = [f for f in m["files"] if f not in gone]
        df = None
        if logical and not kept:
            df = arrange(
                snapshot_read(spark, p, parent, merge_schema=logical_merge),
                touched, lambda c: c,
            )
            if df is not None and sch:
                df = _df_to_physical(df, sch)
        elif touched:
            df = arrange(
                _read_files_with_dv(
                    spark, p, sorted(touched), m.get("dv"),
                    merge_schema=merge_schema, types=m.get("types"),
                    schema=sch,
                ),
                touched, phys,
            )
        new_files = _write_files(df, p) if df is not None else []
        old_stats: dict = m.get("stats", {}) or {}
        cols = (
            sorted({c for s in old_stats.values() for c in s})
            if stats_cols is None
            else [phys(c) for c in stats_cols]
        )
        stats = {f: old_stats[f] for f in kept if f in old_stats}
        if cols and new_files:
            stats.update(_collect_stats(p, new_files, cols, spark=spark))
        return _commit(p, kept + new_files, parent, stats=stats or None,
                       blooms=_carry_blooms(p, m, kept, new_files),
                       dv=_carry_dv(m, kept), op=op)

    return _transact(p, attempt)


def snapshot_compact(
    spark: SparkSession, table_path, target_files: int = 1,
    stats_cols: list[str] | None = None, merge=None,
) -> int:
    """OPTIMIZE: rewrite the CURRENT version's (typically many small,
    stream-appended) files into ``target_files`` larger ones and commit the
    result as a new version — contents identical, old versions untouched
    and still time-travelable, vacuum reclaims the small files once they
    fall out of retention. With ``stats_cols`` the rewrite range-partitions
    on the first column and records fresh min/max stats, so compaction
    doubles as re-clustering (small random appends destroy key locality;
    this restores it); without, the new files record no stats. Exactly
    Delta's OPTIMIZE semantics, through the rewrite loop of _rewrite.

    ``merge`` compacts MERGE-ON-READ DELTA tables whose read path FOLDS
    rows (sum-on-read vocab/stats deltas, per-commit counter rows): a
    caller-certified read-equivalent transform that collapses delta rows
    (e.g. ``groupBy(keys).agg(sum(...))``) is applied to the LOGICAL
    frame before the rewrite, and the commit op records
    'compact-merged'. Layout compaction alone cannot shrink a delta table
    whose row count grows one delta-row-set per append; folding restores
    the fresh-built row count (and with ``stats_cols`` the fresh-built
    range layout), so probe cost returns to O(fresh index) instead of
    O(appends). A racing append's delta rows are folded on the retry,
    never dropped.

    Contract: the transform must be READ-EQUIVALENT under the table's
    documented read semantics (for a sum-on-read delta table, any
    grouping that preserves every group's sum). The caller certifies
    this — the function cannot check it without knowing the read
    semantics. With a transform the read merges schemas: delta
    generations may differ in width, and folding a generation's column
    away because one footer lacked it would change reads."""

    def arrange(df, touched, name):
        if merge is not None:
            df = merge(df)
        if stats_cols:
            return df.repartitionByRange(target_files, name(stats_cols[0]))
        return df.coalesce(target_files)

    return _rewrite(
        spark, _table(table_path),
        "compact-merged" if merge is not None else "compact",
        lambda m, parent: m["files"], arrange,
        stats_cols=stats_cols or [], logical=True,
        logical_merge=merge is not None,
    )


def snapshot_compact_where(
    spark: SparkSession, table_path, condition: str,
    target_files: int = 1,
) -> int:
    """Predicate-scoped OPTIMIZE (Delta's ``OPTIMIZE t WHERE ...``):
    rewrite ONLY the files whose stats intervals can overlap the
    predicate into ``target_files`` larger ones — the standard shape for
    compacting one hot partition/day of a 100 TB table without touching
    the rest. Untouched files carry into the new manifest byte-identical
    with their stats/blooms/DVs; touched files' deletion vectors fold
    into the rewrite (their dead rows vanish physically). The predicate
    SCOPES which files rewrite; it never filters rows — every live row
    of a touched file carries, so table contents are identical before
    and after (same guarantee as full compaction). A predicate no file
    overlaps commits a metadata-only version."""
    p = _table(table_path)
    return _rewrite(
        spark, p, "compact-where",
        lambda m, parent: _admitted(
            m, _where_region(m.get("schema"), condition)
        ),
        lambda df, touched, name: df.coalesce(max(1, target_files)),
    )


def snapshot_compact_small(
    spark: SparkSession, table_path,
    small_bytes: int = 32 << 20,
    min_small_files: int = 4,
    target_bytes: int = 128 << 20,
) -> int:
    """Auto-compaction (Delta's autoCompact shape): bin-pack ONLY the
    files under ``small_bytes`` into ~``target_bytes`` outputs, leaving
    well-sized files untouched (byte-identical carry, stats/blooms/DVs
    preserved) — the steady-state answer to streaming sinks' small-file
    creep. A no-op commit-free return when fewer than
    ``min_small_files`` qualify, so calling it after every micro-batch
    is safe. File sizes come from the local filesystem stat (the same
    metadata a real object store returns with its listing); DV'd small
    files fold their vectors into the rewrite. Returns the new version
    (or the current one when nothing qualified)."""
    p = _table(table_path)

    def pick(m, parent):
        small = [
            f for f in m["files"]
            if (p / f).exists() and (p / f).stat().st_size < small_bytes
        ]
        return small if len(small) >= min_small_files else None

    def arrange(df, touched, name):
        total = sum((p / f).stat().st_size for f in touched)
        return df.coalesce(max(1, round(total / target_bytes)))

    return _rewrite(spark, p, "autocompact", pick, arrange)


def snapshot_analyze(spark: SparkSession, table_path, cols: list) -> int:
    """ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS: backfill
    per-file [min, max] stats for the given columns over every LIVE
    file and commit them as a metadata-only version — no data is
    rewritten or moved. This retrofits file pruning onto tables written
    without stats (CTAS results, plain DataSource writes, inherited
    lakes): after one ANALYZE, range/point/predicate reads prune
    exactly like a stats-born table. The footer sweep distributes above
    the driver bound like every metadata scan; the merged map REPLACES
    prior stats for the analyzed columns and keeps other columns'
    entries. Columns are LOGICAL names on mapped tables."""
    p = _table(table_path)
    cols = list(cols)
    if not cols:
        raise ValueError("ANALYZE needs at least one column")

    def attempt(parent, m):
        sch = m.get("schema")
        pcols = [_mapping_physical(sch, c) if sch else c for c in cols]
        files = list(m["files"])
        fresh = _collect_stats(p, files, pcols, spark=spark)
        merged: dict = {}
        old = m.get("stats", {}) or {}
        for f in files:
            ent = dict(old.get(f, {}))
            ent.update(fresh.get(f, {}))
            if ent:
                merged[f] = ent
        return _commit(p, files, parent, stats=merged or None,
                       blooms=m.get("blooms") or None,
                       dv=dict(m.get("dv", {}) or {}) or None,
                       op="analyze",
                       types_meta=m.get("types"))

    return _transact(p, attempt)


def snapshot_purge_dv(spark: SparkSession, table_path) -> int:
    """REORG TABLE ... APPLY (PURGE), Delta's deletion-vector
    compaction: rewrite ONLY the files carrying deletion vectors so
    their soft-deleted rows are physically dropped, clear the vectors,
    and commit — every clean file stays BYTE-IDENTICAL in the new
    manifest (this is what bounds the cost: O(dv'd files), not O(table);
    a 100 TB table whose MOR deletes touched 3 files rewrites 3 files).
    Internal row-provenance columns drop with the rewrite (change-feed
    update pairing for windows crossing the purge degrades to
    insert/delete — snapshot_change_feed's documented fallback). Old
    versions still time-travel with their vectors; vacuum reclaims the
    purged files once out of retention. No-op (no new version) on a
    vector-free table; dirty files whose every row is deleted leave no
    file behind."""

    def pick(m, parent):
        dv = m.get("dv", {}) or {}
        return [f for f in m["files"] if _dv_key(f) in dv] if dv else None

    def arrange(df, touched, name):
        return None if df.isEmpty() else df.coalesce(max(1, len(touched)))

    return _rewrite(
        spark, _table(table_path), "purge", pick, arrange, merge_schema=False
    )


def snapshot_zorder_compact_n(
    spark: SparkSession,
    table_path,
    cols: list,
    n_files: int = 8,
    incremental: bool = False,
) -> int:
    """OPTIMIZE ZORDER BY (c1, ..., cN): rewrite the current version on
    the N-ary Morton curve (8 quantile bits per column), and commit
    with per-file min/max stats for every z column — the maintenance
    form of snapshot_write(..., zorder_by=...) for tables whose appends
    have destroyed locality (stream ingest writes arrival-ordered files;
    after enough of them every range read admits every file). The
    arrangement is the sink tier's DETERMINISTIC z-bucket layout
    (sources/sinks.py::zorder_arrange_n), so repeated compactions of the
    same data produce identical file boxes.

    ``incremental=True`` is the liquid-clustering-shaped maintenance
    loop: files that survive from the LAST zorder commit are already
    compact boxes and are CARRIED byte-identical with their stats —
    only the unclustered tail (files appended since) is read, z-arranged
    against its own span, and rewritten. Per-cycle write cost is
    O(appends since last zorder), not O(table): at 100 TB that is the
    difference between maintenance you run hourly and maintenance you
    defer until reads hurt. Pruning stays exact either way (every file
    carries true footer min/max; tail boxes may overlap the clustered
    ones until the next full rewrite, which only ADMITS a few more
    files, never loses rows). A fully clustered table commits nothing;
    the full rewrite runs when no prior zorder commit survives on disk
    or nothing is clustered."""
    from .sinks import zorder_arrange_n

    cols = list(cols)
    if len(cols) < 1:
        raise ValueError("ZORDER needs at least one column")
    p = _table(table_path)

    def pick(m, parent):
        zfiles = (_last_zorder_files(p, parent) if incremental else None) or set()
        tail = [f for f in m["files"] if f not in zfiles]
        return tail if tail or not m["files"] else None  # None: clustered

    def arrange(df, touched, name):
        return zorder_arrange_n(
            df, [name(c) for c in cols], n_files=n_files
        )

    return _rewrite(spark, p, "zorder", pick, arrange, stats_cols=cols,
                    logical=True)


def _last_zorder_files(p: Path, tip: int) -> set[str] | None:
    """File list of the newest op=="zorder" manifest at or below ``tip``
    still on disk, or None. Walks the parent chain (vacuumed ancestors
    end the walk — incremental maintenance then falls back to full)."""
    for v, header in _ancestry(p, tip):
        if header.get("op") == "zorder":
            try:
                return set(_read_manifest(p, v)["files"])
            except FileNotFoundError:
                return None
    return None


# ---------------------------------------------------------------------------
# Per-file Bloom filters (point-lookup skipping where min/max can't prune)
# ---------------------------------------------------------------------------
#
# Min/max stats prune RANGE-clustered layouts; a point lookup on a
# high-cardinality column the files are NOT sorted by (user_id in a
# time-partitioned event table, order key in a date-laid-out fact) admits
# every file. Delta and Iceberg answer this with per-file Bloom filters;
# the same idea fits this manifest format directly: a BLOOM_BITS-bit
# filter per (file, column), built from the file's distinct values at
# commit time and carried in the manifest, lets a point read skip every
# file whose filter rejects the value — no false negatives (a rejected
# file provably lacks the value), bounded false positives (those files
# are read and row-filtered like any other).

BLOOM_BITS = 8192   # FLOOR: 1 KiB per (file, column) — manifest-friendly
BLOOM_HASHES = 6
BLOOM_BITS_PER_KEY = 16  # m = 16n, k = 6 -> ~0.09% false positives


def _bloom_positions(value, m_bits: int = BLOOM_BITS) -> list[int]:
    import hashlib as _h

    # canonicalize numerics: a DOUBLE column yields 421.0 from pyarrow
    # while a caller probes 421 — SQL equality says they match, so the
    # hash key must too. (Strings are taken verbatim: '421' is a
    # different value from 421 by design.)
    if isinstance(value, bool):
        key = str(value)
    elif isinstance(value, float) and value.is_integer():
        key = str(int(value))
    else:
        key = str(value)
    return [
        int(_h.md5(f"{i}:{key}".encode()).hexdigest()[:15], 16) % m_bits
        for i in range(BLOOM_HASHES)
    ]


def _file_bloom(path: str, col: str) -> str | None:
    """Base64 Bloom bitset over the file's distinct ``col`` values (NULLs
    excluded — a NULL never equals a point-lookup value). The bitset is
    SIZED to the file's distinct count (BLOOM_BITS_PER_KEY bits per key,
    floored at BLOOM_BITS) so the false-positive rate stays ~0.1%
    regardless of per-file cardinality — a fixed 8192 bits would exceed
    50% FP past ~3000 distinct keys and stop pruning at larger scale
    factors. Readers recover the size from the decoded length, so old
    fixed-size filters in existing manifests keep working."""
    import base64

    import pyarrow.parquet as pq

    if col not in _footer_names(path):
        return None  # an unreadable or missing file raises, never None
    table = pq.read_table(path, columns=[col])
    vals = [v for v in table.column(col).unique().to_pylist() if v is not None]
    m_bits = max(BLOOM_BITS, ((len(vals) * BLOOM_BITS_PER_KEY + 7) // 8) * 8)
    bits = bytearray(m_bits // 8)
    for v in vals:
        for pos in _bloom_positions(v, m_bits):
            bits[pos // 8] |= 1 << (pos % 8)
    return base64.b64encode(bytes(bits)).decode()


def _collect_blooms(
    p: Path, files: list[str], bloom_cols: list[str],
    spark: SparkSession | None,
) -> dict:
    """Per-file Bloom filters for ``bloom_cols`` over ``files`` — one
    _footer_sweep (shared by snapshot_write, snapshot_analyze_blooms and
    _carry_blooms). A file lacking a column gets no filter for it."""
    per_file = _footer_sweep(spark, p, files, lambda path: {
        c: b for c in bloom_cols if (b := _file_bloom(path, c)) is not None
    })
    return {rel: b for rel, b in zip(files, per_file) if b}


def snapshot_analyze_blooms(spark: SparkSession, table_path, cols: list) -> int:
    """ANALYZE TABLE ... COMPUTE BLOOM FILTERS FOR COLUMNS: backfill
    per-file Bloom filters for the given columns over every LIVE file
    and commit them as a metadata-only version — the bloom twin of
    :func:`snapshot_analyze`. Retrofits point-lookup file skipping onto
    tables written without filters (CTAS results, identity-routed
    overwrites, inherited lakes); after one pass,
    point lookups prune exactly like on a bloom-born table.
    The merged map replaces prior filters for the analyzed columns and
    keeps other columns' entries; the footer sweep distributes above
    the driver bound like every metadata scan. Columns are LOGICAL
    names on mapped tables."""
    p = _table(table_path)
    cols = list(cols)
    if not cols:
        raise ValueError("ANALYZE BLOOM FILTERS needs at least one column")

    def attempt(parent, m):
        sch = m.get("schema")
        pcols = [_mapping_physical(sch, c) if sch else c for c in cols]
        files = list(m["files"])
        fresh = _collect_blooms(p, files, pcols, spark)
        merged: dict = {}
        old = m.get("blooms", {}) or {}
        for f in files:
            ent = dict(old.get(f, {}))
            ent.update(fresh.get(f, {}))
            if ent:
                merged[f] = ent
        return _commit(p, files, parent, stats=m.get("stats") or None,
                       blooms=merged or None,
                       dv=dict(m.get("dv", {}) or {}) or None,
                       op="analyze-blooms",
                       types_meta=m.get("types"))

    return _transact(p, attempt)


def _bloom_rejects(b64: str, value, s) -> bool:
    """True when a file's Bloom filter proves it lacks ``value`` (a
    stats-canonical probe; ``s`` is the file's stats entry for the
    column, or None). The filter hashed the values pyarrow read, so only
    a probe spelled the same way is tested: a non-string always, a
    string only against string stats (a string or date column) and
    never a timestamp-shaped one (the filter hashed 'YYYY-MM-DD
    HH:MM:SS', probes spell ISO 'T'). Any other probe keeps the file."""
    import base64

    if isinstance(value, str) and (
        s is None or not isinstance(s[0], str)
        or re.match(r"\d{4}-\d\d-\d\d[ T]\d", value)
    ):
        return False
    bits = base64.b64decode(b64)
    # filter size travels as the bitset length (per-file adaptive)
    positions = _bloom_positions(value, len(bits) * 8)
    return not all(bits[pos // 8] & (1 << (pos % 8)) for pos in positions)


# ---------------------------------------------------------------------------
# Column mapping: rename / drop / re-add without rewriting data (Delta's
# columnMapping=name mode). The manifest's ``schema`` entry gives every
# logical column a STABLE id and a FROZEN physical name (the spelling its
# data files actually store). Rename changes only the logical name
# (metadata-only commit, zero data rewritten); drop retires the (id,
# physical) pair — the bytes stay in the files but no read selects them;
# re-adding a previously-used name allocates a NEW id and a fresh
# physical name, so the old column's data can never resurrect under the
# new column. Readers map physical -> logical at the end of the scan;
# writers map logical -> physical before materializing files. Tables
# without a ``schema`` entry behave exactly as before (mapping is
# opt-in via snapshot_enable_column_mapping).
# ---------------------------------------------------------------------------


def _mapping_physical(schema: dict, logical: str) -> str:
    for c in schema["cols"]:
        if c["name"] == logical:
            return c["physical"]
    raise KeyError(
        f"column {logical!r} not in the table's column mapping "
        f"(live columns: {[c['name'] for c in schema['cols']]})"
    )


def _materialize_generated(df: DataFrame, schema: dict | None) -> DataFrame:
    """Compute every GENERATED ALWAYS AS column the batch does not carry
    (Delta's generated columns): the expression evaluates over the
    batch's other LOGICAL columns, cast to the declared type. Columns
    the batch DOES carry pass through — _enforce_constraints validates
    them against the expression, so a caller cannot silently write a
    value the expression contradicts. An expression referencing a
    DEFAULT-ed column the batch also omits first materializes THAT
    column with its write-time value (wdefault, else birth default,
    else typed NULL) — what the stored row would read — so declaration
    order and batch width never matter. Shared by every logical-frame
    writer (append, write, upsert, merge source)."""
    if not schema:
        return df
    from pyspark.sql import functions as F

    by_lower = {c["name"].lower(): c for c in schema["cols"]}
    for c in schema["cols"]:
        gen = c.get("generated")
        if gen is None or c["name"] in df.columns:
            continue
        have_lower = {n.lower() for n in df.columns}
        for ident in sorted(_expr_identifiers(gen)):
            ref = by_lower.get(ident)
            if (ref is None or ref["name"].lower() in have_lower
                    or ref.get("generated") is not None
                    or ref.get("identity")):
                continue
            d = ref.get("wdefault", ref.get("default"))
            df = df.withColumn(
                ref["name"],
                F.expr(d).cast(ref["type"]) if d is not None
                else F.lit(None).cast(ref["type"]),
            )
        df = df.withColumn(c["name"], F.expr(gen).cast(c["type"]))
    return df


def _identity_cols(schema: dict | None) -> list:
    """Schema cols declared GENERATED ALWAYS AS IDENTITY."""
    return [c for c in (schema or {}).get("cols", []) if c.get("identity")]


# SQL string literals ('it''s', "x\"y") — stripped before identifier
# scans so a column name appearing inside literal TEXT never counts as
# a reference (e.g. CHECK (note <> 'bad id') must not defer on column
# `id`).
_SQL_STR_LIT_RE = re.compile(
    r"'(?:''|\\.|[^'\\])*'|\"(?:\"\"|\\.|[^\"\\])*\""
)


def _expr_identifiers(expr: str) -> set:
    """Lower-cased identifiers a SQL expression text references:
    string literals are stripped first, and a bare word immediately
    followed by ``(`` is a function name, not a column reference
    (back-quoted names are always column references). A conservative
    lexical scan — the three deferral/materialization decisions built
    on it (constraint deferral for absent identity columns, defaulted-
    source materialization in _materialize_generated, recompute
    triggering in _regen_generated) only ever intersect the result
    with actual column names, so leftover SQL keywords are harmless."""
    s = _SQL_STR_LIT_RE.sub(" ", expr)
    out: set = set()
    for m in re.finditer(
        r"`([^`]+)`|([A-Za-z_][A-Za-z_0-9]*)(\s*\()?", s
    ):
        bq, plain, call = m.groups()
        if bq:
            out.add(bq.lower())
        elif plain and not call:
            out.add(plain.lower())
    return out


def _with_identity(
    df: DataFrame, name: str, typ: str, start: int, step: int, base: int
) -> "tuple[DataFrame, int]":
    """Assign identity values ``start + (base + i) * step`` for
    ``i = 0..n-1`` across the batch (Delta's GENERATED ALWAYS AS
    IDENTITY allocation). Distributed shape: the batch is pinned with
    localCheckpoint (content AND partitioning become immutable, so the
    two passes below are consistent), then a per-partition row_number
    plus a broadcast partition->offset map places every row on the
    ``step`` grid — ONE exchange over the BATCH (never the table), and
    the only driver pull is #partitions count rows. Values are unique
    and strictly ordered by (partition, row); gaps can only arise from
    aborted writers (Delta's documented identity semantics — uniqueness
    and grid membership, not contiguity). Returns (df_with_column,
    n_allocated)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if any(c in df.columns for c in ("__snap_idp", "__snap_idr")):
        raise ValueError(
            "column names __snap_idp/__snap_idr are reserved by the "
            "identity allocator"
        )
    src = df.localCheckpoint(eager=True)
    counts = sorted(
        (r["__snap_idp"], r["n"])
        for r in src.groupBy(F.spark_partition_id().alias("__snap_idp"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for pid, n in counts:
        offsets[pid] = acc
        acc += n
    if acc == 0:
        return src.withColumn(name, F.lit(None).cast(typ)), 0
    om = F.create_map(
        *[F.lit(v) for pid, off in offsets.items() for v in (pid, off)]
    )
    w = Window.partitionBy("__snap_idp").orderBy(
        F.monotonically_increasing_id()
    )
    out = (
        src.withColumn("__snap_idp", F.spark_partition_id())
        .withColumn("__snap_idr", F.row_number().over(w))
        .withColumn(
            name,
            (
                F.lit(int(start))
                + (
                    F.lit(int(base))
                    + om[F.col("__snap_idp")]
                    + F.col("__snap_idr")
                    - F.lit(1)
                )
                * F.lit(int(step))
            ).cast(typ),
        )
        .drop("__snap_idp", "__snap_idr")
    )
    return out, acc


def _allocate_identity(
    df: DataFrame, schema: dict | None
) -> "tuple[DataFrame, dict | None]":
    """Allocate every GENERATED ALWAYS AS IDENTITY column of ``schema``
    for a row-creating write (append, MERGE insert arm, REPLACE WHERE)
    from the schema's high-water mark ``next``. Explicit values refuse
    (ALWAYS semantics) — case-insensitively, as Spark resolves
    identifiers, so a batch carrying 'ID' against identity 'id' is an
    explicit write, not a new column. Returns the batch and the
    schema_meta to commit: a copy of ``schema`` with each mark bumped
    past its allocation, or None for a table without identity."""
    id_cols = _identity_cols(schema)
    if not id_cols:
        return df, None
    lower = {n.lower() for n in df.columns}
    meta = json.loads(json.dumps(schema))
    bumped = {c["name"]: c["identity"] for c in _identity_cols(meta)}
    for c in id_cols:
        if c["name"].lower() in lower:
            raise ValueError(
                f"column {c['name']!r} is GENERATED ALWAYS AS "
                "IDENTITY and cannot be written explicitly"
            )
        ident = c["identity"]
        base = int(ident.get("next", 0))
        df, n_alloc = _with_identity(
            df, c["name"], c["type"],
            int(ident.get("start", 1)), int(ident.get("step", 1)), base,
        )
        bumped[c["name"]]["next"] = base + n_alloc
    return df, meta


def _normalize_assign_keys(assignments: dict, columns) -> dict:
    """Re-key an UPDATE/MERGE assignment map onto the table's actual
    column spellings: Spark SQL resolves identifiers case-insensitively,
    so ``SET K = ...`` must hit column ``k`` — a case-sensitive dict
    probe would silently skip the assignment. Unknown keys pass through
    for the caller's own unknown-column handling."""
    by_lower = {c.lower(): c for c in columns}
    return {
        by_lower.get(k.lower(), k): v for k, v in assignments.items()
    }


def _materialize_wdefaults(df: DataFrame, schema: dict | None) -> DataFrame:
    """Write defaults (ALTER COLUMN SET/DROP DEFAULT) bind at WRITE
    time: materialize them physically for columns the batch omits, so
    the birth default keeps resolving only the files that predate the
    change (Iceberg's initial- vs write-default split; "NULL" is the
    DROP DEFAULT sentinel). Shared by every row-creating write path —
    append, MERGE insert arms, REPLACE WHERE."""
    if not schema:
        return df
    from pyspark.sql import functions as F

    for c in schema["cols"]:
        wd = c.get("wdefault")
        if wd is not None and c["name"] not in df.columns:
            df = df.withColumn(c["name"], F.expr(wd).cast(c["type"]))
    return df


def _regen_generated(df: DataFrame, schema: dict | None, assigned) -> DataFrame:
    """Recompute GENERATED ALWAYS AS columns whose source columns appear
    in an UPDATE/MERGE assignment set (Delta recomputes the expression
    on the update image; it does not reject the stale carried value).
    Generated columns assigned DIRECTLY are left as written —
    _enforce_constraints validates the explicit value against the
    expression. Recomputing over every image row is value-preserving
    for rows the assignment did not change: stored data always
    satisfies ``g <=> expr(sources)`` (computed on write, validated
    when supplied), so an unconditional recompute is safe and cheaper
    than threading the match predicate here."""
    assigned = {a.lower() for a in (assigned or ())}  # Spark SQL
    # resolves identifiers case-insensitively — match accordingly
    if not schema or not assigned:
        return df
    from pyspark.sql import functions as F

    for c in schema["cols"]:
        gen = c.get("generated")
        if gen is None or c["name"].lower() in assigned:
            continue
        if _expr_identifiers(gen) & assigned:
            df = df.withColumn(c["name"], F.expr(gen).cast(c["type"]))
    return df


def _schema_defaults(schema: dict | None) -> dict:
    """physical name -> (default SQL expr, type) for every mapped column
    carrying a DEFAULT — empty for unmapped / default-free tables."""
    if not schema:
        return {}
    return {
        c["physical"]: (c["default"], c["type"])
        for c in schema["cols"]
        if c.get("default") is not None
    }


def _default_col(expr: str, dtype: str):
    """A column DEFAULT read on a file that lacks the column: the value,
    typed, and NULLABLE as the stored column is (NULLIF with NULL is the
    identity), so a read's schema never depends on which files it
    lists."""
    from pyspark.sql import functions as F

    return F.nullif(F.expr(expr).cast(dtype), F.lit(None))


@functools.lru_cache(maxsize=65536)
def _footer_names(abs_path: str) -> frozenset:
    """Column names physically present in one parquet file's footer —
    cacheable forever (data files are immutable; rewrites get new
    names)."""
    import pyarrow.parquet as pq

    return frozenset(pq.read_schema(abs_path).names)


def _apply_column_mapping(
    df: DataFrame, schema: dict, keep: tuple = ()
) -> DataFrame:
    """Physical frame -> logical frame: select each mapped column under
    its logical name, then the ``keep`` columns as they are; a column
    whose physical data predates every listed file (freshly added) reads
    as a typed NULL — or as its DEFAULT expression when the column
    declares one (the per-file mixed case is handled earlier, in
    _read_files_with_dv's group split)."""
    from pyspark.sql import functions as F

    have = set(df.columns)

    def _absent(c):
        if c.get("default") is not None:
            return _default_col(c["default"], c["type"])
        return F.lit(None).cast(c["type"])

    return df.select(
        *[
            (
                F.col(c["physical"])
                if c["physical"] in have
                else _absent(c)
            ).alias(c["name"])
            for c in schema["cols"]
        ],
        *keep,
    )


def _df_to_physical(df: DataFrame, schema: dict) -> DataFrame:
    """Logical frame -> physical frame for a mapped table's writer. Every
    incoming column must exist in the mapping (schema evolution on a
    mapped table is explicit: snapshot_add_column first), so a typo'd or
    stale column name fails loudly instead of forking the physical
    namespace."""
    from pyspark.sql import functions as F

    by_name = {c["name"]: c["physical"] for c in schema["cols"]}
    missing = [c for c in df.columns if c not in by_name]
    if missing:
        raise KeyError(
            f"columns {missing} are not in the table's column mapping; "
            "add them with snapshot_add_column before writing"
        )
    return df.select(
        *[F.col(c).alias(by_name[c]) for c in df.columns]
    )


def _constraints_referencing(table_path, col: str) -> list[str]:
    """Names of CHECK constraints whose expression mentions ``col`` (word-
    boundary token match — conservative: a quoted literal containing the
    name also counts, which can only over-refuse, never under)."""
    p = Path(table_path)
    tip = current_version(p)
    if not tip:
        return []
    cons = _read_manifest(p, tip).get("constraints") or {}
    pat = re.compile(rf"\b{re.escape(col)}\b")
    return sorted(n for n, e in cons.items() if pat.search(e))


def _commit_schema_change(
    table_path, mutate, op: str, mutate_partitioning=None
) -> int:
    """Metadata-only commit that carries the tip's files/stats/blooms/dv
    and applies ``mutate(schema) -> schema`` — the shape of every
    column-mapping DDL (rename/drop/add are O(1) metadata, never data).
    ``mutate_partitioning(spec) -> spec``, when given, rewrites the
    partitioning spec in the SAME commit (a partition-column rename
    must move the spec's logical name atomically with the schema's)."""
    p = Path(table_path)

    def attempt(parent, m):
        schema = m.get("schema")
        if schema is None:
            raise ValueError(
                f"{table_path} has no column mapping; call "
                "snapshot_enable_column_mapping first"
            )
        new_schema = mutate(json.loads(json.dumps(schema)))  # deep copy
        new_part = None
        if mutate_partitioning is not None and m.get("partitioning"):
            new_part = mutate_partitioning(
                json.loads(json.dumps(m["partitioning"]))
            )
        return _recommit(p, parent, m, op, schema_meta=new_schema,
                         partitioning_meta=new_part)

    return _transact(p, attempt)


def snapshot_enable_column_mapping(spark: SparkSession, table_path) -> int:
    """Turn on column mapping: snapshot the table's current (merged)
    schema into the manifest with stable ids; physical names freeze at
    their current spelling, so existing files read unchanged. Idempotent
    on an already-mapped table. BUCKETED tables refuse — the same
    one-way contract as snapshot_write's bucket_by mapped-table refusal
    (bucket metadata binds PHYSICAL names to the join attribute, and
    the bucketed view registers by those spellings; a later rename
    would leave the co-located join surface exposing stale names) —
    rewrite through snapshot_write to drop the layout first."""
    p = Path(table_path)

    def attempt(parent, m):
        if m.get("schema"):
            return parent
        if m.get("bucketing"):
            raise ValueError(
                "column mapping on a BUCKETED table is unsupported (bucket "
                "metadata binds physical names to the join attribute) — "
                "rewrite through snapshot_write to drop the bucketed "
                "layout first, then enable mapping"
            )
        # the mapping snapshots THIS round's tip: a column a racing writer
        # added must be mapped, or reads would drop it
        df = snapshot_read(spark, p, version=parent, merge_schema=True)
        cols = [
            {"id": i + 1, "name": f.name, "physical": f.name,
             "type": f.dataType.simpleString()}
            for i, f in enumerate(df.schema.fields)
        ]
        schema = {"next_id": len(cols) + 1, "cols": cols, "retired": []}
        return _recommit(p, parent, m, "set-mapping", schema_meta=schema)

    return _transact(p, attempt)


def snapshot_rename_column(table_path, old: str, new: str) -> int:
    """RENAME COLUMN as an O(1) metadata commit: the logical name moves,
    the physical name (and every data file) stays. Collisions with a
    live logical name fail loudly. A PARTITION column rename moves the
    partitioning spec's logical name in the SAME commit — column
    mapping is exactly the feature that makes partition-column renames
    legal (Delta's contract); leaving the spec on the old spelling
    would brick every later partitioned write on a mapping KeyError."""
    refs = _constraints_referencing(table_path, old)
    if refs:
        raise ValueError(
            f"cannot rename {old!r}: referenced by CHECK constraint(s) "
            f"{refs} — drop them first (Delta refuses this rename too)"
        )
    m0 = _read_manifest(Path(table_path), current_version(Path(table_path)))
    gen_refs = [
        c["name"]
        for c in (m0.get("schema") or {}).get("cols", [])
        if c.get("generated") is not None
        and old.lower() in _expr_identifiers(c["generated"])
    ]
    if gen_refs:
        raise ValueError(
            f"cannot rename {old!r}: GENERATED column(s) {gen_refs} "
            "compute from it — their stored expressions would dangle "
            "(Delta refuses this rename too)"
        )

    def mutate(schema: dict) -> dict:
        names = {c["name"] for c in schema["cols"]}
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        _mapping_physical(schema, old)  # raises if old is unknown
        for c in schema["cols"]:
            if c["name"] == old:
                c["name"] = new
        return schema

    def mutate_part(spec: dict) -> dict:
        spec["cols"] = [
            new if c == old else c for c in (spec.get("cols") or [])
        ]
        return spec

    return _commit_schema_change(
        table_path, mutate, "rename-column", mutate_partitioning=mutate_part
    )


def snapshot_drop_column(table_path, name: str) -> int:
    """DROP COLUMN as an O(1) metadata commit: the (id, physical) pair is
    RETIRED — its bytes stay in the data files (vacuumed naturally as
    files rewrite) but no read ever selects them, and the physical name
    is permanently reserved so a later re-add cannot resurrect them.
    PARTITION columns refuse (Delta refuses too: the spec would point
    at nothing and every later partitioned write would fail); columns a
    GENERATED expression reads refuse for the same reason."""
    refs = _constraints_referencing(table_path, name)
    if refs:
        raise ValueError(
            f"cannot drop {name!r}: referenced by CHECK constraint(s) "
            f"{refs} — drop them first (Delta refuses this drop too)"
        )
    p = Path(table_path)
    m = _read_manifest(p, current_version(p))
    if name in ((m.get("partitioning") or {}).get("cols") or []):
        raise ValueError(
            f"cannot drop {name!r}: it is the table's partition column "
            "(repartition via snapshot_set_partitioning first — Delta "
            "refuses dropping partition columns too)"
        )
    gen_refs = [
        c["name"]
        for c in (m.get("schema") or {}).get("cols", [])
        if c.get("generated") is not None
        and name.lower() in _expr_identifiers(c["generated"])
    ]
    if gen_refs:
        raise ValueError(
            f"cannot drop {name!r}: GENERATED column(s) {gen_refs} "
            "compute from it — drop them first"
        )

    def mutate(schema: dict) -> dict:
        _mapping_physical(schema, name)
        keep = [c for c in schema["cols"] if c["name"] != name]
        dropped = next(c for c in schema["cols"] if c["name"] == name)
        if not keep:
            raise ValueError("cannot drop the last column")
        schema["cols"] = keep
        schema["retired"].append(
            {"id": dropped["id"], "physical": dropped["physical"]}
        )
        return schema

    return _commit_schema_change(table_path, mutate, "drop-column")


def snapshot_add_column(
    table_path, name: str, dtype: str, default: str | None = None,
) -> int:
    """ADD COLUMN as an O(1) metadata commit. The new column gets a fresh
    id; if its name was ever used as a physical name (live or retired),
    the physical name is suffixed with the id so the old data CANNOT
    resurrect — existing rows read as typed NULLs either way.

    ``default`` (a constant SQL expression, e.g. ``"0"`` / ``"'n/a'"``)
    records Iceberg-style initial+write-default semantics: every row of
    every file that physically LACKS the column — pre-add files, and
    later narrow writes that omit it — reads the default instead of
    NULL; files that carry the column read their stored values
    (including explicit NULLs). Enforced per-file in the one read core
    (_read_files_with_dv, under every reader, DML match, change-feed
    read and rewrite), so DML images, compaction, and purge materialize
    the default rather than freezing a NULL."""
    def mutate(schema: dict) -> dict:
        if any(c["name"] == name for c in schema["cols"]):
            raise ValueError(f"column {name!r} already exists")
        used = {c["physical"] for c in schema["cols"]} | {
            r["physical"] for r in schema["retired"]
        }
        cid = schema["next_id"]
        schema["next_id"] = cid + 1
        physical = name if name not in used else f"{name}_{cid}"
        col = {"id": cid, "name": name, "physical": physical, "type": dtype}
        if default is not None:
            col["default"] = default
        schema["cols"].append(col)
        return schema

    return _commit_schema_change(table_path, mutate, "add-column")


def snapshot_create_table(
    table_path, columns: "list[tuple]",
) -> int:
    """Empty-table DDL (``CREATE TABLE t (c type [DEFAULT expr], ...)
    USING snapshot``): commit a v1 schema-only manifest — zero files,
    column mapping from birth (the declared schema is authoritative; no
    footer exists to infer from). ``columns`` is [(name, ddl_type,
    default_or_None[, generated_expr_or_None[, identity_or_None
    [, not_null_bool[, comment_or_None[, write_default_expr_or_None]]]]]),
    ...] — the trailing write-default slot carries an EXPRESSION default's
    raw text (re-evaluated per write batch) while slot 2 holds its
    DDL-time fold (what pre-existing rows read; see the catalog's
    _fold_default)
    — a generated expression records Delta's GENERATED ALWAYS AS:
    writers that omit the column compute it, writers that carry it
    validate against it (see _materialize_generated /
    _enforce_constraints). ``identity`` is ``{"start": int, "step":
    int}`` recording Delta's GENERATED ALWAYS AS IDENTITY (START WITH s
    INCREMENT BY k): appends allocate unique values on the
    ``start + i*step`` grid from a per-commit high-water mark carried
    in the schema metadata (see snapshot_append); explicitly supplied
    values refuse (ALWAYS semantics). Reads before
    the first write return a typed empty frame; every writer then
    composes normally (appends, MERGE, constraints, partition specs —
    partitioning BY a generated column is the canonical date-partition
    pattern)."""
    p = _table(table_path)
    if current_version(p) != 0:
        raise FileExistsError(f"{table_path} already has committed versions")
    if not columns:
        raise ValueError("CREATE TABLE needs at least one column")
    names = [c[0] for c in columns]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate column names: {names}")
    cols = []
    not_null: dict[str, str] = {}  # NOT NULL clauses -> CHECK constraints
    for i, spec in enumerate(columns):
        name, dtype = spec[0], spec[1]
        default = spec[2] if len(spec) > 2 else None
        generated = spec[3] if len(spec) > 3 else None
        identity = spec[4] if len(spec) > 4 else None
        if spec[5] if len(spec) > 5 else False:  # NOT NULL
            not_null[name] = f"{name} IS NOT NULL"
        comment = spec[6] if len(spec) > 6 else None
        if sum(x is not None for x in (default, generated, identity)) > 1:
            raise ValueError(
                f"column {name!r}: DEFAULT, GENERATED ALWAYS AS and "
                "GENERATED ALWAYS AS IDENTITY are mutually exclusive"
            )
        if identity is not None and dtype.lower() not in ("bigint", "long", "int", "integer"):
            raise ValueError(
                f"column {name!r}: IDENTITY requires an integral type, "
                f"got {dtype!r}"
            )
        wdefault = spec[7] if len(spec) > 7 else None
        col = {"id": i + 1, "name": name, "physical": name, "type": dtype}
        if default is not None:
            col["default"] = default
        if wdefault is not None:
            # expression DEFAULT (Spark's CURRENT_DEFAULT): the raw
            # expression, re-evaluated per write batch; `default` above
            # holds its DDL-time fold (EXISTS_DEFAULT)
            col["wdefault"] = wdefault
        if generated is not None:
            col["generated"] = generated
        if identity is not None:
            col["identity"] = {
                "start": int(identity.get("start", 1)),
                "step": int(identity.get("step", 1)),
                # count of values allocated so far: the next value is
                # start + next*step (the per-commit high-water mark)
                "next": 0,
            }
            if col["identity"]["step"] == 0:
                raise ValueError(
                    f"column {name!r}: IDENTITY INCREMENT BY 0 is invalid"
                )
        if comment is not None:
            col["comment"] = comment
        cols.append(col)
    schema = {"next_id": len(cols) + 1, "cols": cols, "retired": []}
    return _commit(
        p, [], 0, op="create", schema_meta=schema,
        # NOT NULL rides the CHECK machinery under a reserved name —
        # every writer then enforces it via _enforce_constraints (which
        # materializes what a narrow batch will actually write)
        constraints_meta={
            f"__not_null_{c}": e for c, e in not_null.items()
        } or None,
    )


_BUCKET_FILE_RE = re.compile(r"_(\d{5})(?:\.|$)")


def _write_files_bucketed(df: DataFrame, table_path: Path,
                          col: str, n: int) -> list[str]:
    """Materialize df under Spark's BUCKETED file layout (each file name
    carries its bucket id, `part-...-_00003.c000...`): rows hash-route to
    ``n`` buckets on ``col`` exactly as a catalog bucketed table's would,
    so files from any number of such writes compose into one bucketed
    read. Implemented as a transient EXTERNAL bucketed table write into
    this commit's data/<uuid>/ directory — the catalog entry is dropped
    immediately (external: files stay), only the manifest references the
    files."""
    spark = df.sparkSession
    sub = uuid.uuid4().hex
    dest = table_path / "data" / sub
    tmp_name = f"snap_bucketed_{sub}"
    (
        df.write.format("parquet")
        .bucketBy(n, col)
        .option("path", str(dest))
        .saveAsTable(tmp_name)
    )
    spark.sql(f"DROP TABLE `{tmp_name}`")
    return sorted(
        f"data/{sub}/{f.name}"
        for f in dest.glob("*.parquet")
        if not f.name.startswith(("_", "."))
    )


def snapshot_bucketed_table(
    spark: SparkSession, table_path, name: str, version: int | None = None
) -> DataFrame:
    """Register a snapshot version's files as an EXTERNAL BUCKETED
    catalog table and return it: equal-bucket equi-joins between two
    such registrations plan with ZERO Exchange (Spark's bucketed-scan
    output partitioning satisfies the join's distribution on both
    sides). Validates before registering: the manifest must carry a
    bucket spec, every live file must be bucket-named, and no deletion
    vectors may exist (a catalog scan cannot apply them — fail loudly,
    never resurrect). The registration materializes a per-(table,
    version) SYMLINK directory of exactly the manifest's files — the
    local-filesystem emulation of a manifest-listing catalog (what
    Iceberg's Spark catalog does natively on object storage); O(live
    files) driver work once per version, reused thereafter."""
    p = Path(table_path)
    v = current_version(p) if version is None else version
    if v == 0:
        raise FileNotFoundError(f"no committed version in {table_path}")
    m = _read_manifest(p, v)
    spec = m.get("bucketing")
    if not spec:
        raise ValueError(f"{table_path} carries no bucketed layout")
    if m.get("dv"):
        raise ValueError(
            "deletion vectors invalidate the bucketed view — rewrite "
            "through snapshot_write(..., bucket_by=...) (or compact) first"
        )
    bad = [f for f in m["files"] if not _BUCKET_FILE_RE.search(Path(f).name)]
    if bad:
        raise ValueError(
            f"{len(bad)} file(s) lack bucket naming (written outside the "
            f"bucketed path, e.g. {bad[0]!r}) — rewrite through "
            "snapshot_write(..., bucket_by=...) first"
        )
    vd = p / "_bucketed" / f"v{v}"
    if not vd.exists():
        tmp = p / "_bucketed" / f".v{v}.{uuid.uuid4().hex}"
        tmp.mkdir(parents=True)
        for rel in m["files"]:
            (tmp / Path(rel).name).symlink_to((p / rel).resolve())
        try:
            os.rename(tmp, vd)  # atomic publish; loser cleans up
        except OSError:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
            if not vd.exists():
                raise
    cols_ddl = m["bucketing"].get("ddl") if isinstance(
        m["bucketing"], dict
    ) else None
    if not cols_ddl:  # pre-ddl spec: one footer read
        schema = spark.read.parquet(str(p / m["files"][0])).schema
        cols_ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
    spark.sql(f"DROP TABLE IF EXISTS `{name}`")
    spark.sql(
        f"CREATE TABLE `{name}` ({cols_ddl}) USING parquet "
        f"CLUSTERED BY (`{spec['col']}`) INTO {spec['n']} BUCKETS "
        f"LOCATION '{vd}'"
    )
    return spark.table(name)


def snapshot_set_partitioning(table_path, col: "str | list[str] | None") -> int:
    """PARTITION EVOLUTION as an O(columns) metadata commit (Iceberg's
    spec-evolution view): record the partition column NEW writes route
    by. No data file is touched or rewritten — files written under an
    earlier spec stay readable and prunable via whatever per-file stats
    they carry, and value pruning on the new column conservatively keeps
    pre-evolution files (no stats for it = never pruned). Writers that
    honor the spec (snapshot_append) route one file set per partition
    value with exact point stats, so post-evolution data prunes
    perfectly while the boundary remains merely conservative until
    compaction rewrites it. ``None`` clears the spec. ``col`` is the
    LOGICAL name on mapped tables — a LIST records a multi-column spec
    (Hive/Iceberg's (date, region) layouts: appends route one file per
    value TUPLE with point stats on every spec column, so conjunctive
    value prunes intersect exactly). Same optimistic disposition as every
    writer; the spec follows the standard metadata carry (inherit,
    delta-on-change, checkpoint, clone, restore-with-CLEAR)."""
    p = _table(table_path)
    cols = (
        None if col is None
        else [col] if isinstance(col, str) else list(col)
    )
    if cols is not None and (
        not cols or len(set(cols)) != len(cols)
    ):
        raise ValueError(f"invalid partition column list: {cols}")

    def attempt(parent, m):
        if cols is not None:
            sch = m.get("schema")
            if sch:
                known = {c["name"] for c in sch["cols"]}
                bad = [c for c in cols if c not in known]
                if bad:
                    raise ValueError(
                        f"partition column(s) {bad} not in table schema"
                    )
        meta = {"cols": cols} if cols is not None else CLEAR_METADATA
        return _recommit(p, parent, m, "set-partitioning",
                         partitioning_meta=meta)

    return _transact(p, attempt)


def snapshot_partitioning(table_path, version: int | None = None) -> list[str] | None:
    """The partition spec (logical column list) in force at a version,
    or None — a manifest metadata read, no file opened."""
    p = Path(table_path)
    v = current_version(p) if version is None else version
    if v == 0:
        return None
    spec = _read_manifest(p, v).get("partitioning")
    return list(spec["cols"]) if spec else None


def _write_files_by_partition(
    df: DataFrame, table_path: Path, partition_col: "str | list[str]",
    values: list | None = None, *, what: str = "",
) -> list[str]:
    """Materialize df with ONE FILE (set) PER PARTITION VALUE (single
    column) or PER VALUE TUPLE (multi-column spec, Hive/Iceberg's
    (date, region) layouts): each row routes to its value's partition
    index through a hash-perfect token (sinks._partition_tokens —
    repartition(n, token) places rows exactly, deterministically), so
    every written file holds a single partition value/tuple. Partition
    stats in the manifest are then exact points (min == max == value)
    on EVERY spec column, value-pruning admits exactly the touched
    partitions' files, and untouched partitions keep byte-identical
    files across merges. Partition-count-sized driver work only (the
    token map literal); row routing is one codegen'd map lookup. For a
    multi-column spec the map key is the canonical unit-separator join
    of the columns' string casts.

    ``values=None`` routes over the batch's own value tuples (one
    distinct pull) and refuses a NULL spec value, naming ``what`` — the
    full-replace, append and replace-where writes; upserts pass the
    values they already hold."""
    from pyspark.sql import functions as F

    from .sinks import _partition_tokens

    if values is None:
        cols = [partition_col] if isinstance(partition_col, str) else partition_col
        values = [tuple(r) for r in df.select(*cols).distinct().collect()]
        if any(v is None for t_ in values for v in t_):
            raise ValueError(f"NULL partition values cannot route ({what})")
    n = len(values)
    if n == 0:
        return _write_files(df, table_path)
    multi = isinstance(partition_col, (list, tuple))
    if multi and len(partition_col) == 1:
        partition_col, multi = partition_col[0], False
        values = [v[0] if isinstance(v, tuple) else v for v in values]
    if multi:
        sep = "\x1f"
        key_expr = F.concat_ws(
            sep, *[F.col(c).cast("string") for c in partition_col]
        )
        # recompute the distinct keys through the SAME expression the
        # router evaluates — engine-side string casts are then exact
        # map hits by construction (no Python-vs-Spark format drift)
        values = [
            r[0] for r in df.select(key_expr.alias("_k")).distinct().collect()
        ]
        n = len(values)
    else:
        key_expr = F.col(partition_col)
    tokens = _partition_tokens(df.sparkSession, n)
    # NULL routes to its own dedicated slot (carried rows from files
    # predating a partition-column evolution have no value for it)
    non_null = [v for v in values if v is not None]
    try:
        ordered = sorted(non_null)
    except TypeError:
        ordered = sorted(non_null, key=str)
    has_null = len(non_null) < len(values)
    map_args: list = []
    # slot 0 is the NULL slot when present; values fill the rest
    offset = 1 if has_null else 0
    for i, v in enumerate(ordered):
        map_args.extend([F.lit(v), F.lit(tokens[i + offset])])
    route = F.create_map(*map_args)[key_expr] if ordered else F.lit(None)
    if has_null:
        route = F.coalesce(route, F.lit(tokens[0]))
    routed = (
        # cast LONG: _partition_tokens solves pmod(hash(long token), n)
        # == index — an int32 token hashes differently and scatters
        df.withColumn("_pt", route.cast("long"))
        .repartition(n, F.col("_pt"))
        .drop("_pt")
    )
    return _write_files(routed, table_path)


def snapshot_upsert_partitioned(
    spark: SparkSession,
    df: DataFrame,
    table_path,
    keys: list[str],
    partition_col: str,
    extra_stats_cols: list[str] | None = None,
) -> int:
    """Partition-scoped keyed upsert COMMITTED THROUGH THE SNAPSHOT
    FORMAT: partition values live in the manifest as per-file stats (one
    file per partition value via _write_files_by_partition, so the
    "partition column" is just a stats column whose per-file range is a
    point — Iceberg's partition-values-are-metadata view). Only the
    files of partitions PRESENT IN THE BATCH are read back, anti-joined
    on ``keys`` and rewritten; every other partition's files are carried
    into the new manifest byte-identical. Unlike the plain-parquet
    dynamic-overwrite merge, the table gets the full format contract:
    snapshot isolation, time travel, rollback, history, change feed,
    vacuum, and optimistic multi-writer commits.

    Correctness contract (same as the scoped plain merge, reference
    etl-s3-processed-to-redshift.py:66-96's partition-day scoping):
    ``partition_col`` must be STABLE for a business key — a key
    re-arriving under a different partition value would leave its old
    row alive in an untouched partition. NULL partition values are a
    contract violation (they cannot route) — fail loudly.

    At 100 TB: a daily batch touching d partitions reads and rewrites
    O(d) files, the manifest commit is O(change) (delta manifests), and
    the untouched table is never listed."""
    from pyspark.sql import functions as F

    p = _table(table_path)
    _enforce_constraints(df, p)
    # the spec records the LOGICAL name (manifest partitioning metadata);
    # the merge below runs in physical space
    part_meta = {"cols": [partition_col]}
    # column-mapped table: the caller speaks logical names; the merge runs
    # in physical space (read-back frames and stats are physical)
    sch = (
        _read_manifest(p, current_version(p)).get("schema")
        if current_version(p) else None
    )
    if sch:
        if _identity_cols(sch):
            raise NotImplementedError(
                "snapshot_upsert_partitioned on a GENERATED ALWAYS AS "
                "IDENTITY table is unsupported (the partition-scoped "
                "rewrite loop has no per-rebase allocation) — use "
                "snapshot_upsert / snapshot_merge, whose insert arms "
                "allocate"
            )
        # narrow batches resolve the WRITE default (not the stale birth
        # default) and compute omitted generated columns — the same
        # row-creating prelude as snapshot_write/append
        df = _materialize_wdefaults(df, sch)
        df = _materialize_generated(df, sch)
        df = _df_to_physical(df, sch)
        keys = [_mapping_physical(sch, k) for k in keys]
        partition_col = _mapping_physical(sch, partition_col)
        extra_stats_cols = [
            _mapping_physical(sch, c) for c in (extra_stats_cols or [])
        ] or None
    stats_cols = [partition_col, keys[0]] + [
        c for c in (extra_stats_cols or []) if c not in (partition_col, keys[0])
    ]
    df = df.persist()  # evaluated for touched-values, anti-join and write
    try:
        # ONE pass over the batch for every scalar the merge needs:
        # touched partition values (collect_set skips NULLs, so NULLs are
        # counted separately to keep the loud-failure contract) plus the
        # key range for the file prune — previously a distinct().collect()
        # job AND an agg(min, max) job over the same persisted batch
        _g = df.agg(
            F.collect_set(F.col(partition_col)).alias("vals"),
            F.sum(
                F.when(F.col(partition_col).isNull(), 1).otherwise(0)
            ).alias("nulls"),
            F.min(keys[0]).alias("klo"),
            F.max(keys[0]).alias("khi"),
        ).first()
        touched_vals = list(_g["vals"])
        if _g["nulls"]:
            raise ValueError(
                f"snapshot_upsert_partitioned({partition_col!r}): incoming "
                "batch contains NULL partition values; a NULL cannot route "
                "to a partition file (clean the batch or use snapshot_upsert)."
            )
        if current_version(p) == 0:
            files = _write_files_by_partition(
                df, p, partition_col, touched_vals
            )
            stats = _collect_stats(p, files, stats_cols, spark=spark)
            # table creation: a full replace, same disposition as
            # snapshot_write's
            return _transact(p, lambda parent, m: _commit(
                p, files, parent, stats=stats, op="upsert-part",
                types_meta=CLEAR_METADATA, partitioning_meta=part_meta,
                bucketing_meta=CLEAR_METADATA,
            ), create=True)
        if not touched_vals:
            # empty batch: metadata-only commit (auditable no-op)
            return _transact(p, lambda parent, m: _recommit(
                p, parent, m, "upsert-part", partitioning_meta=part_meta
            ))
        klo, khi = _g["klo"], _g["khi"]

        def attempt(parent, m):
            # one point disjunct per batch partition value, each also
            # carrying the batch's KEY range: a file provably holding none
            # of the batch keys never rewrites, even when it predates the
            # partition column (PARTITION EVOLUTION: a table can switch its
            # scoping column without rewriting old files — they lack stats
            # for the new column, stay conservatively in the partition
            # prune, and fall out here via their key stats)
            key_range = {keys[0]: (klo, khi)} if klo is not None else {}
            touched = set(_admitted(m, [
                {**key_range, partition_col: (v, v)} for v in touched_vals
            ]))
            if touched:
                cur = _read_files_with_dv(
                    spark, p, sorted(touched), m.get("dv"), merge_schema=True,
                    types=m.get("types"), schema=m.get("schema"),
                )
                merged = cur.join(
                    df.select(keys).distinct(), keys, "left_anti"
                ).unionByName(df, allowMissingColumns=True)
                # carried rows from multi-partition files (seeded/migrated
                # layouts) keep their own partition values — route over
                # the union of values actually present
                vals = [
                    r[0] for r in merged.select(partition_col).distinct().collect()
                ]
            else:
                merged, vals = df, touched_vals
            return _replace_files(
                spark, p, parent, m, touched,
                _write_files_by_partition(merged, p, partition_col, vals),
                "upsert-part", stats_cols=stats_cols,
                partitioning_meta=part_meta,
            )

        return _transact(p, attempt)
    finally:
        df.unpersist()


def snapshot_tail_changes(
    spark: SparkSession,
    table_path,
    progress_path,
    process_batch,
    app_id: str = "change-consumer",
    max_versions: int | None = None,
    updates_as: str = "netflow",
) -> int:
    """Streaming SOURCE over the snapshot log: consume the table's change
    feed version-by-version — the readStream-equivalent half of Delta's
    CDF story (the exactly-once streaming SINK is stream_snapshot_sink).
    Each committed version becomes one micro-batch:
    ``process_batch(changes_df, version)`` receives that version's NET
    row changes (the ``snapshot_change_feed`` frame: data columns +
    ``_change_type`` in {'insert','delete'}).

    Progress is EXACTLY-ONCE via the consumer's own snapshot txn map: a
    metadata-only commit on the ``progress_path`` table stamps
    ``(app_id, version)`` after each batch, so a restarted consumer — a
    crash, a new process, a different machine sharing the FS — resumes
    from ``last_txn(progress, app_id)`` and never re-reads a consumed
    version. Crash BETWEEN process_batch and the progress stamp replays
    that one version with the SAME version id (at-least-once delivery +
    idempotent-by-version sink = exactly-once end-to-end — precisely
    Structured Streaming's foreachBatch contract, and
    stream_snapshot_sink-style txn-stamped sinks get it for free).

    Scale: each batch reads only the files/DV-deltas that changed in its
    version window (snapshot_change_feed's contract), and the consumer's
    walk is over manifest metadata — a 100 TB table's standing files are
    never listed. Orphan versions (losing racers) are skipped naturally:
    the walk follows the PARENT CHAIN from the tip, which is the
    committed history. Returns the number of versions consumed.

    ``max_versions`` bounds one call (rate limiting / test control);
    call again to continue. A fresh consumer on an existing table starts
    from the CURRENT tip's full contents as version-1 changes only if it
    begins at version 0 — i.e. the first batch is the table's initial
    version, mirroring Delta's startingVersion=0."""
    table = Path(table_path)
    progress = _table(progress_path)
    consumed = last_txn(progress, app_id)  # -1 on first run
    # committed history = the tip's parent chain down to the consumed
    # version (orphan manifests from losing racers never appear on it);
    # a vacuumed gap ends it, and the change feed of the oldest step then
    # fails on the missing parent
    chain = list(_ancestry(table, current_version(table), stop=consumed))
    chain.reverse()
    if max_versions is not None:
        chain = chain[:max_versions]
    n = 0
    for ver, header in chain:
        prev = header["parent"]
        if prev == 0:
            # first version: its changes are its full contents as inserts
            from pyspark.sql import functions as F

            batch = snapshot_read(spark, table, version=ver).withColumn(
                "_change_type", F.lit("insert")
            )
        else:
            batch = snapshot_change_feed(
                spark, table, prev, ver, updates_as=updates_as
            )
        process_batch(batch, ver)
        # exactly-once progress stamp: a metadata-only commit on the
        # progress table records (app_id, ver); a stamp another consumer
        # instance already landed is a no-op by the txn protocol
        _transact(progress, lambda parent, m: _recommit(
            progress, parent, m, "progress", txn=ver, txn_app=app_id,
        ), txn=ver, txn_app=app_id, create=True)
        n += 1
    return n


def snapshot_history(table_path) -> list[dict]:
    """DESCRIBE HISTORY: every manifest still on disk, newest first, with
    version, parent, operation, wall-clock commit time, file count, and
    writer txn stamp. Reads only manifest JSON — no data file is opened.
    Vacuumed-away versions are simply absent (their history went with
    their manifests, as in any format where history retention is the
    vacuum policy); manifests predating the op/ts stamps report None."""
    p = Path(table_path)
    # one pointer read: a commit landing mid-loop must not mark two
    # entries current, or none
    tip = current_version(p)
    out = []
    for mf in sorted(
        (p / _MANIFEST_DIR).glob("v*.json"),
        key=lambda f: int(f.stem[1:]),
        reverse=True,
    ):
        m = json.loads(mf.read_text())
        out.append(
            {
                "version": m["version"],
                "parent": m.get("parent"),
                "op": m.get("op"),
                "ts": m.get("ts"),
                # delta manifests carry n_files explicitly (their file
                # list only exists after resolution); legacy full
                # manifests fall back to the listed length
                "n_files": m.get("n_files", len(m.get("files", []))),
                "txn": m.get("txn"),
                "txn_app": m.get("txn_app"),
                "current": m["version"] == tip,
            }
        )
    return out
