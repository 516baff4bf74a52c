"""One lifecycle for the persistent-index family.

The three index modules — operators/dedup_index.py (near-dup),
operators/contamination_index.py (benchmark grams), operators/
ann_index.py (IVF cells) — declare their index as data: one
:class:`IndexKind` each (format kind string, table schemas, bucketed
tables, id column, the one per-kind compaction rule). Every mutator —
format check, stamped append, delete, TTL expiry, compaction, merge —
is written ONCE here against that spec; the modules keep only their
signature kernels and probes. The 11 index-family registry rows are
generated from one table (:data:`INDEX_ROWS`) through one composer
(:func:`register_index_rows`). The supporting hygiene lives here too:

- **append + refresh** (:func:`append_bucketed`): bucketed appends must
  refresh the relation cache through the CALLER's session, because
  foreachBatch hands micro-batch DataFrames owned by a per-epoch clone
  and ``saveAsTable`` only invalidates the writer session's cache.
- **snapshot-before-write** (:func:`snapshot_before_write`): any lazy
  plan whose leaves include tables/dirs the same function later mutates
  must be eagerly localCheckpoint'ed BEFORE the first write
  (read-your-own-writes; hit twice in round 8).
- **atomic-ish table swap** (:func:`swap_table` / :func:`recover_swap`):
  generation swaps rename the live table ASIDE first, so every failure
  window leaves a recoverable catalog state (r8 ADVICE #3 — the old
  DROP-then-RENAME left a window with no catalog entry at all).
- **tombstones** (:func:`add_tombstones` / :func:`apply_tombstones`):
  deletion/retraction is a small tombstone relation anti-joined into
  every probe (broadcast — the bucketed index side keeps its
  partitioning, so probes stay exchange-free) until a compaction folds
  the deletions into a physical rewrite. This is the delete path of
  every LSM/lakehouse store, chosen because an in-place bucketed rewrite
  per takedown would cost O(index) while tombstones cost O(deleted).
- **ingest stamps** (:func:`record_stamps` / :func:`expired_ids`): an
  optional (id, stamp) ledger written at build/extend time; TTL expiry
  = tombstone every id with stamp < cutoff. Logical stamps, not wall
  clocks, so tests and replays are deterministic.
- **single-writer lock** (:func:`single_writer`): extend/delete/compact
  assume one writer (two interleaved extends could interleave appends
  between snapshot and write). The lock is an O_EXCL marker file in the
  index root — acquisition failure raises loudly instead of corrupting.

Reference parity: the reference serializes writers through PostgreSQL
transactions and deletes via plain SQL DELETE
(transfer_data_with_constraints_script.py:49-253 relies on both); these
helpers are the lakehouse-native equivalents of those guarantees.
"""

from __future__ import annotations

import logging
import os
import tempfile
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass
from typing import ClassVar, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .bucketing import index_table_name, write_bucketed
from .memo import CheckpointMemo, unpersist_checkpoints

logger = logging.getLogger(__name__)


def pid_alive(pid: int) -> bool:
    """Is a process with this pid currently running on THIS host?
    (EPERM means it exists but is not ours — still alive.) Meaningless
    across hosts sharing a filesystem — callers gate recovery actions
    on it only where single-host deployment is the documented scope.
    Non-positive pids (kill(2) would signal a process GROUP) are
    reported alive — 'cannot verify dead' must never justify
    recovery."""
    if pid <= 0:
        return True
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    except OSError:
        return False
    return True


def atomic_write_text(path: str, text: str) -> None:
    """Write a small marker file atomically AND durably: tmp sibling,
    fsync the data, rename, fsync the directory. The shared primitive
    behind every marker in the engine (ledger commits, batch
    fingerprints, index format meta, pinned HWMs) — one implementation
    so the tmp-naming and replace semantics cannot drift apart
    (round-11 review).

    The two fsyncs extend the guarantee from process-crash to
    POWER-LOSS (round-12 ADVICE): without them a rename can be on disk
    while the file's bytes are not (torn marker), or the rename itself
    can vanish from an unsynced directory — and ledger commit markers /
    pinned HWMs are the exactly-once substrate, so a silently-reverted
    commit would replay an epoch the downstream already consumed.
    Markers are tiny and per-epoch, so the two fsyncs are noise next to
    the epoch's Spark jobs."""
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


class ConcurrentIndexWriteError(RuntimeError):
    """A second writer attempted to mutate an index while another held
    its write lock. The index is untouched; retry after the holder
    finishes (or remove a stale lock left by a crashed process — the
    holder's pid is in the message and the lock file)."""


class IndexFormatError(RuntimeError):
    """A persistent index's on-disk format metadata does not match what
    this engine version reads/writes. At 100 TB the index OUTLIVES the
    engine version — a round-9-built index probed by round-12 code with
    silently drifted table schemas would return wrong results, not
    errors; this check turns that into a loud refusal at first touch."""


#: bump when a table's meaning/layout changes incompatibly (column
#: semantics, bucketing key, hash function) — readers of version N
#: refuse versions ≠ N rather than guessing
INDEX_FORMAT_VERSION = 1

_META_FILE = "_index_meta.json"


def write_index_meta(root: str, kind: str, tables: dict[str, list[str]]) -> None:
    """Stamp an index root with its format metadata at build time:
    engine format version, index kind, and each table role's expected
    column schema (the engine-side schema hash the checker compares).
    Atomic write-then-rename, same discipline as every other marker."""
    import json

    os.makedirs(root, exist_ok=True)
    meta = {
        "format_version": INDEX_FORMAT_VERSION,
        "kind": kind,
        "tables": tables,
    }
    atomic_write_text(os.path.join(root, _META_FILE), json.dumps(meta, indent=1))


def check_index_format(
    spark: SparkSession,
    any_index_table: str,
    kind: str,
    tables: dict[str, list[str]],
    backfill: bool = False,
) -> None:
    """Refuse loudly to touch an index whose on-disk format metadata
    does not match this engine version — called at the entry of every
    probe and mutator.

    A MISSING meta file (an index built by pre-versioning code) is
    unverifiable; how that resolves depends on the caller (round-11
    review — the old unconditional backfill let the FIRST toucher,
    probe or mutator, right or wrong, stamp its own expectations as
    durable truth):

    - mutators pass ``backfill=True``: they are about to write under
      this module's own spec anyway, so stamping that spec (at the
      current version) is exactly as trustworthy as the mutation
      itself, and it makes the guarantee forward-looking without a
      rebuild;
    - probes (default) never write — a missing meta is logged as an
      unverifiable legacy probe and allowed, so read paths stay
      read-only and a mis-addressed reader cannot poison the root."""
    import json

    root = index_root(spark, any_index_table)
    path = os.path.join(root, _META_FILE)
    try:
        with open(path) as f:
            meta = json.load(f)
    except FileNotFoundError:
        if backfill:
            write_index_meta(root, kind, tables)  # legacy backfill
        else:
            logger.warning(
                "index at %s has no format metadata (pre-versioning "
                "build) — probing UNVERIFIED as %s; the next mutation "
                "will stamp it", root, kind,
            )
        return
    except (OSError, ValueError) as exc:
        raise IndexFormatError(
            f"index at {root}: unreadable format metadata ({exc}) — refuse "
            "to touch; restore or rebuild the index"
        ) from exc
    if meta.get("format_version") != INDEX_FORMAT_VERSION:
        raise IndexFormatError(
            f"index at {root} has format_version="
            f"{meta.get('format_version')!r} but this engine reads/writes "
            f"version {INDEX_FORMAT_VERSION} — rebuild the index with this "
            "engine version (or run the matching engine); probing across "
            "format versions would silently misread the layout"
        )
    if meta.get("kind") != kind:
        raise IndexFormatError(
            f"index at {root} is a {meta.get('kind')!r} index but was "
            f"addressed as {kind!r} — wrong index root"
        )
    if meta.get("tables") != tables:
        raise IndexFormatError(
            f"index at {root}: table schemas drifted — on disk "
            f"{meta.get('tables')}, engine expects {tables}; rebuild or "
            "migrate before probing"
        )


def table_location(spark: SparkSession, table: str) -> str:
    """Filesystem path of a catalog table's storage location (the
    ``file:`` URI from DESC EXTENDED, scheme stripped)."""
    for r in spark.sql(f"DESC EXTENDED {table}").collect():
        if r.col_name == "Location":
            loc = r.data_type
            return loc[len("file:"):] if loc.startswith("file:") else loc
    raise ValueError(f"no Location in DESC EXTENDED {table}")


def index_root(spark: SparkSession, table: str) -> str:
    """Root directory of the index that owns ``table`` — the parent of
    the table's location (every index writes each table into its own
    subdirectory of one root; side relations — tombstones, stamps,
    lock — live in that root too, so they travel with the index)."""
    return os.path.dirname(table_location(spark, table).rstrip("/"))


# ---------------------------------------------------------------------------
# single-writer contract
# ---------------------------------------------------------------------------

#: a breaker marker with unreadable content must be at least this old
#: (mtime) before it is reclaimed — a LIVE breaker holds its marker for
#: a few filesystem ops, so seconds of grace is orders of magnitude safe
_BREAKER_GRACE_S = 30.0


def _reclaim_dead_breaker(breaker: str) -> bool:
    """Remove a breaker marker whose writer is provably dead — the
    recursive application of the stale-lock rule to the breaker itself
    (round-12 ADVICE: a SIGKILL inside the breaker critical section
    orphaned '{lock}.breaker' forever, and every later recovery attempt
    returned False on FileExistsError). Content ``pid=N`` with N dead →
    reclaim; content unreadable/unparseable (the pid write may not have
    landed) → reclaim only past an mtime grace window. Returns True
    when the marker was removed (caller should retry the break)."""
    import time

    try:
        with open(breaker) as f:
            txt = f.read()
            # fstat the open fd so content and identity come from the
            # SAME inode — a path re-stat could describe a replacement
            seen = os.stat(f.fileno())
    except OSError:
        return True  # marker vanished — its writer finished; retry
    pid_part = txt[len("pid="):].strip() if txt.startswith("pid=") else ""
    stale = False
    if pid_part.isdigit():
        stale = not pid_alive(int(pid_part))
    else:
        stale = time.time() - seen.st_mtime > _BREAKER_GRACE_S
    if not stale:
        return False
    # round-14 (closes the r13 shrunken window): CLAIM the marker
    # atomically before removing. The r13 stat-identity re-check could
    # still interleave — between the re-stat and the unlink, a racer
    # reclaims and a new live breaker recreates the path, so the slower
    # reclaimer unlinked a live marker. rename() moves whatever file is
    # at the path to a reclaimer-private name in ONE atomic step, so at
    # most one reclaimer ever holds any given marker file. We then
    # verify the claimed file is the one we judged stale (same
    # inode+mtime); a mismatch means we claimed a LIVE breaker's fresh
    # marker, which we restore via link() — link refuses to clobber a
    # marker a third breaker may have since created (in that residual
    # shape exactly one marker remains at the path; the stolen one is
    # dropped and logged loudly).
    claimed = f"{breaker}.reclaim.{os.getpid()}"
    try:
        os.rename(breaker, claimed)
    except OSError:
        return True  # path vanished/moved — another reclaimer won; retry
    try:
        now = os.stat(claimed)
    except OSError:
        return True  # our private name removed externally; retry break
    if (now.st_ino, now.st_mtime_ns) == (seen.st_ino, seen.st_mtime_ns):
        try:
            os.remove(claimed)
        except OSError:
            pass
        logger.warning(
            "reclaimed orphaned lock-breaker marker %s (%r)", breaker, txt
        )
        return True
    # mismatch: we claimed a live breaker's marker — restore it
    try:
        os.link(claimed, breaker)
    except OSError:
        logger.warning(
            "could not restore claimed live breaker marker %s — a newer "
            "marker already holds the path; dropping the claimed copy",
            breaker,
        )
    try:
        os.remove(claimed)
    except OSError:
        pass
    return False  # a live breaker owns the path


def _maybe_break_stale_lock(lock: str) -> bool:
    """Reclaim a lock whose recorded holder pid is provably dead on
    THIS host (a SIGKILL'd auto-compaction would otherwise wedge every
    restart in a loud-error loop until a human removed the file —
    round-11 review). Safety: lock content is written once at creation
    and never rewritten, so re-reading it under the breaker marker and
    comparing proves the same dead holder still owns it; the breaker
    marker (O_EXCL) serializes concurrent breakers. A lock whose
    content is missing/unparseable (the creation write may not have
    landed yet) is never broken. Single-host scope only — on a shared
    filesystem a remote holder's pid is not checkable, which is the
    standing documented limit of the file lock (use a lock service at
    cluster scale). Returns True when the lock was removed."""
    try:
        with open(lock) as f:
            txt = f.read()
    except OSError:
        return False  # gone already — the holder released
    if not txt.startswith("pid="):
        return False
    pid_part = txt[len("pid="):].split()[0] if txt[len("pid="):].split() else ""
    if not pid_part.isdigit() or pid_alive(int(pid_part)):
        return False
    breaker = f"{lock}.breaker"
    try:
        fd = os.open(breaker, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        # Another breaker is on it — unless ITS writer died between
        # creating the marker and the finally-removal (a SIGKILL there
        # would otherwise orphan the marker forever, permanently
        # disabling stale-lock recovery — round-12 ADVICE). The breaker
        # records its writer's pid exactly like the lock does, so the
        # same dead-pid reclaim applies; an empty/unparseable marker
        # (crash before the pid write landed, or a pre-round-12 file)
        # is reclaimed only once it is older than a grace window that
        # no live breaker holds the marker for (the critical section is
        # a handful of filesystem ops).
        if _reclaim_dead_breaker(breaker):
            return _maybe_break_stale_lock(lock)  # one retry, re-checks all
        return False
    try:
        os.write(fd, f"pid={os.getpid()}".encode())
        os.close(fd)
        try:
            with open(lock) as f:
                if f.read() != txt:
                    return False  # lock changed hands — leave it
        except OSError:
            return False
        try:
            os.remove(lock)
        except FileNotFoundError:
            # round-13 ADVICE: another breaker (racing through the
            # marker-reclaim window) removed the same stale lock first.
            # The lock is gone either way — report broken so the
            # acquire loop retries O_EXCL instead of crashing.
            return True
        except OSError:
            return False  # lock unremovable right now — leave it
        logger.warning(
            "broke stale index write lock %s held by dead process [%s]",
            lock, txt.strip(),
        )
        return True
    finally:
        try:
            os.remove(breaker)
        except OSError:
            pass


@contextmanager
def writer_lock(root: str, op: str = "write", wait: float | None = None):
    """Exclusive write lock over the index rooted at ``root`` — the
    path-keyed core of :func:`single_writer`, usable without a Spark
    session (and therefore from OTHER PROCESSES: the whole point of an
    O_EXCL file lock is that it arbitrates between writers that share
    nothing but the filesystem — tests/test_index_base.py races real
    subprocesses through this exact function).

    ``wait``: fail-loud-immediately stays the default (None). A bounded
    timeout in seconds turns contention into jittered retry — for two
    LEGITIMATE streams sharing one index (round-10 review: previously
    the second stream needed operator babysitting). Waiting is safe
    under the torn-extend analysis because every caller builds its read
    plans AFTER acquisition (the snapshot-inside-lock discipline of the
    extend/compact functions); the timeout bounds the wait so a LIVE
    contending holder still surfaces as a loud error rather than a
    hang. A lock left by a provably-DEAD local holder is broken and
    retried in both modes (:func:`_maybe_break_stale_lock`) — crashed
    auto-maintenance must not require a human to delete a file."""
    import random
    import time

    lock = os.path.join(root, "_writer.lock")
    deadline = None if wait is None else time.monotonic() + wait
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            if _maybe_break_stale_lock(lock):
                continue  # dead holder reclaimed — retry immediately
            remaining = None if deadline is None else deadline - time.monotonic()
            if remaining is None or remaining <= 0:
                try:
                    with open(lock) as f:
                        holder = f.read().strip() or "unknown"
                except OSError:
                    holder = "unknown"
                waited = "" if wait is None else f" after waiting {wait}s"
                raise ConcurrentIndexWriteError(
                    f"index at {root} is being written by [{holder}] — "
                    f"concurrent {op} refused{waited} (single-writer "
                    f"contract; remove {lock} only if the holder crashed)"
                ) from None
            # jittered backoff: desynchronizes N waiters so release is
            # not a thundering herd; capped by the remaining budget
            time.sleep(min(remaining, 0.02 + random.uniform(0, 0.08)))
    try:
        os.write(fd, f"pid={os.getpid()} op={op}".encode())
        os.close(fd)
        yield
    finally:
        try:
            os.remove(lock)
        except OSError:
            pass


@contextmanager
def single_writer(
    spark: SparkSession, table: str, op: str = "write", wait: float | None = None
):
    """Exclusive write lock over the index that owns ``table``.

    O_CREAT|O_EXCL creation of ``_writer.lock`` in the index root is
    atomic on every POSIX filesystem — including between unrelated OS
    processes; a held lock raises :class:`ConcurrentIndexWriteError`
    immediately by default (fail-loud — a writer that read its inputs
    BEFORE acquiring would operate on a pre-append snapshot, exactly
    the torn-extend interleaving the lock exists to prevent; every
    caller here snapshots inside the lock, which is also why the
    optional bounded ``wait`` retry is sound). At 100 TB the same
    contract holds via the object store's conditional-put / a catalog
    lock service; the acquire/release sites in the index modules are
    the integration points.

    Root re-resolution after acquire (round-11 review): compaction and
    retrain REWRITE the index into a fresh root and repoint the table
    there, so a writer that waited on the OLD root's lock could
    otherwise acquire it just as it stops guarding anything (the
    compactor released it after swapping away) and mutate concurrently
    with a third writer locking the NEW root. Re-resolving the table's
    root after acquisition and retrying on mismatch closes the window:
    whoever holds the lock of the root the table CURRENTLY points at
    is the writer."""
    while True:
        root = index_root(spark, table)
        cm = writer_lock(root, op=op, wait=wait)
        cm.__enter__()
        if index_root(spark, table) == root:
            break
        cm.__exit__(None, None, None)  # root migrated mid-wait — retry
    try:
        yield
    finally:
        cm.__exit__(None, None, None)


# ---------------------------------------------------------------------------
# write hygiene
# ---------------------------------------------------------------------------

def snapshot_before_write(df: DataFrame) -> DataFrame:
    """Eagerly materialize a plan that reads state the caller is about
    to mutate (catalog tables, output dirs). Evaluating the lazy plan
    after the first write would see the write's own rows — the
    read-your-own-writes class (two round-8 bugs). The caller owns the
    returned checkpoint's blocks (``unpersist_checkpoints`` when done)."""
    return df.localCheckpoint(eager=True)


def append_bucketed(
    spark: SparkSession,
    table: str,
    rows: DataFrame,
    bucket_key: str,
    n_buckets: int,
) -> None:
    """Append rows to a bucketed index table, preserving the bucket
    spec, then refresh the relation cache through the CALLER's session
    (``rows`` may belong to a per-epoch clone session — see module
    docstring). ``rows`` must not read ``table`` through a lazy plan
    (snapshot_before_write first)."""
    (
        rows.write.mode("append")
        .bucketBy(n_buckets, bucket_key)
        .sortBy(bucket_key)
        .format("parquet")
        .saveAsTable(table)
    )
    spark.catalog.refreshTable(table)


# ---------------------------------------------------------------------------
# generation swap
# ---------------------------------------------------------------------------

def swap_table(spark: SparkSession, live: str, tmp: str) -> None:
    """Swap a rewritten generation in for the live table: live →
    ``{live}_retired``, tmp → live, drop retired. Every failure window
    is recoverable (r8 ADVICE #3): before the first rename nothing
    changed; between the renames the data survives under
    ``{live}_retired`` and :func:`recover_swap` restores it; after the
    second rename the swap is complete and the drop is cosmetic."""
    retired = f"{live}_retired"
    spark.sql(f"DROP TABLE IF EXISTS {retired}")  # leftover of an old crash
    spark.sql(f"ALTER TABLE {live} RENAME TO {retired}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {live}")
    spark.sql(f"DROP TABLE {retired}")


def recover_swap(spark: SparkSession, live: str) -> bool:
    """Recover from a crash between swap_table's two renames: if the
    live name is gone but ``{live}_retired`` exists, rename it back.
    Returns True if a recovery was performed."""
    retired = f"{live}_retired"
    if not spark.catalog.tableExists(live) and spark.catalog.tableExists(retired):
        spark.sql(f"ALTER TABLE {retired} RENAME TO {live}")
        return True
    return False


# ---------------------------------------------------------------------------
# tombstones (deletion/retraction) + ingest stamps (TTL)
# ---------------------------------------------------------------------------

def _side_name(any_index_table: str, kind: str) -> str:
    """Catalog name of a side relation for the index owning
    ``any_index_table``: the index's stem (the table name up to its
    last '_'-suffix) + kind, so side tables are session-unique exactly
    like the index tables themselves."""
    return f"{any_index_table.rsplit('_', 1)[0]}_{kind}"


def _append_side(
    spark: SparkSession, any_index_table: str, kind: str, rows: DataFrame
) -> str:
    """Append ``rows`` to a side relation, creating it (one file, in the
    index root) on first use. Returns the side table's catalog name;
    the root's path is resolved (a DESC EXTENDED) only on creation."""
    side = _side_name(any_index_table, kind)
    if spark.catalog.tableExists(side):
        rows.write.mode("append").format("parquet").saveAsTable(side)
        spark.catalog.refreshTable(side)
    else:
        (
            rows.coalesce(1)
            .write.mode("overwrite")
            .option("path", os.path.join(index_root(spark, any_index_table), kind))
            .format("parquet")
            .saveAsTable(side)
        )
    return side


def add_tombstones(spark: SparkSession, any_index_table: str, ids: DataFrame) -> str:
    """Retract ids from the index owning ``any_index_table``: append a
    one-column (id) tombstone relation. O(deleted) — no index rewrite;
    probes anti-join it until a compaction folds it in. Returns the
    tombstone table name. ``ids``'s single column may have any name;
    it is normalized to ``id``."""
    tomb = _side_name(any_index_table, "tombstones")
    rows = ids.select(F.col(ids.columns[0]).cast("long").alias("id")).distinct()
    if not spark.catalog.tableExists(tomb):
        return _append_side(spark, any_index_table, "tombstones", rows)
    rows = snapshot_before_write(rows.join(spark.table(tomb), "id", "left_anti"))
    _append_side(spark, any_index_table, "tombstones", rows)
    unpersist_checkpoints(rows)
    return tomb


def tombstones(spark: SparkSession, any_index_table: str) -> DataFrame | None:
    """The (id) tombstone relation of the index owning
    ``any_index_table``, or None when nothing was ever deleted (the
    common case — probes then skip the anti-join entirely)."""
    tomb = _side_name(any_index_table, "tombstones")
    return spark.table(tomb) if spark.catalog.tableExists(tomb) else None


def apply_tombstones(
    indexed: DataFrame, tombs: DataFrame | None, key_col: str
) -> DataFrame:
    """Filter retracted ids out of an index-side relation via a
    BROADCAST anti-join (tombstones are O(deleted-since-compaction),
    bounded small by compaction cadence). Broadcast matters twice: no
    shuffle is induced, and the streamed index side keeps its bucketed
    output partitioning, so downstream probe joins stay exchange-free."""
    if tombs is None:
        return indexed
    return indexed.join(
        F.broadcast(tombs.select(F.col("id").alias(key_col))),
        key_col,
        "left_anti",
    )


def fold_side_tables(spark: SparkSession, any_index_table: str, new_path: str) -> None:
    """Post-rewrite side-relation upkeep for compaction/retrain: the
    tombstones are spent (the rewrite dropped their rows physically)
    and are dropped; the stamps ledger is REWRITTEN to the surviving
    ids — rows that lived through the compaction keep their ingest
    history, so TTL expiry keeps working across generations (round-9
    review finding: dropping stamps here silently disabled TTL for
    every pre-compaction survivor)."""
    stamps = _side_name(any_index_table, "stamps")
    tombs = tombstones(spark, any_index_table)
    if spark.catalog.tableExists(stamps):
        live = spark.table(stamps)
        if tombs is not None:
            live = live.join(F.broadcast(tombs), "id", "left_anti")
        tmp = f"{stamps}_compacting"
        (
            live.write.mode("overwrite")
            .option("path", os.path.join(new_path, "stamps"))
            .format("parquet")
            .saveAsTable(tmp)
        )
        swap_table(spark, stamps, tmp)
    spark.sql(f"DROP TABLE IF EXISTS {_side_name(any_index_table, 'tombstones')}")


def compaction_due(
    spark: SparkSession,
    any_index_table: str,
    n_buckets: int,
    max_files_per_bucket: int = 8,
    max_dead_ratio: float = 0.2,
) -> dict:
    """Should this index be compacted now? Encodes the MEASURED cadence
    guidance (SCALE.md, tools/compaction_cadence.py): probe latency is
    flat in tombstone backlog — the broadcast anti-join is effectively
    free until the tombstone relation itself stops fitting the driver
    (~10⁷ ids) — so cadence keys on the two costs compaction actually
    removes:

    - **file-count decay**: every extend appends up to one file per
      non-empty bucket, so files/bucket ≈ extends since last compaction;
      scan open/seek overhead grows with it.
    - **dead rows**: tombstoned ids still occupy index rows until the
      rewrite; the post-compaction probe speedup in the measured curve
      is proportional to the physical shrink.

    Returns {"due": bool, "files_per_bucket": float, "dead_ratio":
    float, "reasons": [...]}. dead_ratio = tombstoned ids / distinct
    index ids — the one index-sized job, paid only when tombstones
    exist (a stamps-ledger denominator would be cheaper but is WRONG
    whenever the ledger covers only part of the index, e.g. built
    unstamped then extended stamped: a 1k-id ledger under a 1M-id index
    would inflate 300 deletions to dead_ratio 0.3 and trigger spurious
    full rewrites — round-10 review). The file-count check stays
    metadata-only."""
    files = len(spark.table(any_index_table).inputFiles())
    fpb = files / max(1, n_buckets)
    reasons = []
    if fpb > max_files_per_bucket:
        reasons.append(f"files/bucket {fpb:.1f} > {max_files_per_bucket}")

    dead_ratio = 0.0
    tombs = tombstones(spark, any_index_table)
    if tombs is not None:
        n_dead = tombs.count()
        if n_dead:
            idx = spark.table(any_index_table)
            n_total = idx.select(F.col(idx.columns[0])).distinct().count()
            dead_ratio = n_dead / max(1, n_total)
            if dead_ratio > max_dead_ratio:
                reasons.append(
                    f"dead ratio {dead_ratio:.2f} > {max_dead_ratio}"
                )
    return {
        "due": bool(reasons),
        "files_per_bucket": round(fpb, 2),
        "dead_ratio": round(dead_ratio, 4),
        "reasons": reasons,
    }


def record_stamps(
    spark: SparkSession, any_index_table: str, ids: DataFrame, stamp: int
) -> str:
    """Record the logical ingest stamp of ids entering the index (call
    at build/extend). Stamps are the TTL substrate: expiry tombstones
    every id whose stamp predates the cutoff. Logical ints, not wall
    clocks — deterministic under test and replay (a replayed epoch
    re-records the same stamp, and the duplicate row is harmless
    because expiry reads MAX(stamp) per id)."""
    rows = ids.select(
        F.col(ids.columns[0]).cast("long").alias("id"), F.lit(stamp).alias("stamp")
    )
    return _append_side(spark, any_index_table, "stamps", rows)


def append_stamp_rows(
    spark: SparkSession, any_index_table: str, rows: DataFrame
) -> str:
    """Append pre-formed (id, stamp) ledger rows — the stamp-history
    carry of an index MERGE (the source index's ids keep their original
    ingest stamps in the destination, so TTL expiry stays correct
    across the fold; re-stamping them at merge time would silently
    extend every merged id's lifetime). Duplicate rows are harmless for
    the same reason as :func:`record_stamps` replays — expiry reads
    MAX(stamp) per id."""
    out = rows.select(
        F.col("id").cast("long").alias("id"),
        F.col("stamp").cast("long").alias("stamp"),
    )
    return _append_side(spark, any_index_table, "stamps", out)


def stamp_rows(spark: SparkSession, any_index_table: str) -> DataFrame | None:
    """The raw (id, stamp) ledger of the index owning
    ``any_index_table``, or None when no stamp was ever recorded —
    the read side of :func:`append_stamp_rows`."""
    stamps = _side_name(any_index_table, "stamps")
    return spark.table(stamps) if spark.catalog.tableExists(stamps) else None


def expired_ids(
    spark: SparkSession, any_index_table: str, before_stamp: int
) -> DataFrame:
    """Ids whose LATEST ingest stamp is < ``before_stamp`` (re-ingest
    under a newer stamp refreshes an id's TTL, the retention semantics
    every cache/TTL store uses). Feed straight into
    :func:`add_tombstones` to expire."""
    stamps = _side_name(any_index_table, "stamps")
    if not spark.catalog.tableExists(stamps):
        return spark.range(0).select(F.col("id"))
    return (
        spark.table(stamps)
        .groupBy("id")
        .agg(F.max("stamp").alias("latest"))
        .filter(F.col("latest") < before_stamp)
        .select("id")
    )


# ---------------------------------------------------------------------------
# the index lifecycle, declared once per kind
# ---------------------------------------------------------------------------

@dataclass(frozen=True, eq=False)
class IndexKind:
    """One persistent-index kind as data, with its lifecycle written once.

    ``kind`` / ``tables``: the on-disk format contract
    (:func:`check_index_format`) — verified at every probe/mutation
    entry, stamped at build/compact/retrain. ``bucketed``: (role, bucket
    key) of every bucketed table; the FIRST is the anchor table, which
    owns the writer lock, the side relations (tombstones, stamps) and
    the stamped ids. ``id_col``: the retractable id every bucketed table
    carries. ``compact_distinct``: the one per-kind compaction rule —
    drop replayed duplicate rows (only where duplicates are inert at
    probe, so a replayed append may have left some).

    Index handles: a single-table kind is addressed by its table name,
    the others by a NamedTuple with one ``<role>_table`` field per role.
    """

    kind: str
    tables: dict[str, list[str]]
    bucketed: tuple[tuple[str, str], ...]
    id_col: str
    compact_distinct: bool = False

    #: bucket count of every index table. A constant, not a parameter:
    #: appends and compactions must match the count the table was built
    #: with. At 100 TB, size it the usual way (functions/bucketing.py
    #: guidance): buckets ≈ rows / target partition, typically 4-32k.
    n_buckets: ClassVar[int] = 16

    @property
    def anchor(self) -> str:
        return self.bucketed[0][0]

    def names(self, handle) -> dict[str, str]:
        """role → catalog table name of the index ``handle``."""
        if isinstance(handle, str):
            return {self.anchor: handle}
        return {role: getattr(handle, f"{role}_table") for role in self.tables}

    def anchor_table(self, handle) -> str:
        return self.names(handle)[self.anchor]

    def check(self, spark: SparkSession, handle, backfill: bool = False) -> None:
        """Refuse a foreign or drifted index (probes: read-only;
        mutators pass ``backfill=True`` — see check_index_format)."""
        check_index_format(
            spark, self.anchor_table(handle), self.kind, self.tables,
            backfill=backfill,
        )

    def seal(self, spark: SparkSession, handle, path: str, stamp: int | None = None):
        """The build tail: stamp every built id (``stamp`` None skips
        the stamp write), then write the format meta. Returns
        ``handle``."""
        if stamp is not None:
            anchor = self.anchor_table(handle)
            ids = spark.table(anchor).select(self.id_col).distinct()
            record_stamps(spark, anchor, ids, stamp)
        write_index_meta(path, self.kind, self.tables)
        return handle

    def _append_rows(self, spark: SparkSession, handle, rows: dict) -> None:
        names = self.names(handle)
        for role, key in self.bucketed:
            append_bucketed(spark, names[role], rows[role], key, self.n_buckets)

    def append(
        self,
        spark: SparkSession,
        handle,
        rows: Callable[[], dict[str, DataFrame]],
        stamp: int | None = None,
        op: str = "extend",
        wait: float | None = None,
    ) -> dict[str, DataFrame]:
        """Append one row relation per bucketed role. ``rows`` is called
        UNDER the writer lock, so plans that read the index snapshot
        inside it (a concurrent writer cannot interleave between the
        read and the append); it must not return lazy reads of the
        index tables (snapshot_before_write first). ``stamp`` records
        the anchor relation's ids BEFORE the data append: a crash in
        between leaves stamped-but-unindexed ids (harmless — expiry
        tombstones rows that do not exist, and a replay re-stamps the
        same values), never indexed-but-unstamped rows TTL could no
        longer reach. ``wait``: bounded writer-lock retry (see
        writer_lock). Returns the appended relations (the caller owns
        any checkpoints among them)."""
        self.check(spark, handle, backfill=True)
        anchor = self.anchor_table(handle)
        with single_writer(spark, anchor, op=op, wait=wait):
            out = rows()
            if stamp is not None:
                ids = out[self.anchor].select(self.id_col).distinct()
                record_stamps(spark, anchor, ids, stamp)
            self._append_rows(spark, handle, out)
        return out

    def delete(self, spark: SparkSession, handle, ids: DataFrame) -> None:
        """Retract ids (takedowns, withdrawn benchmarks, re-crawl
        invalidation). O(deleted): a tombstone append, no index rewrite;
        every probe anti-joins the tombstones (broadcast, exchange-free)
        so retracted ids match nothing, exactly as if the index had been
        rebuilt without them — oracle-proved by the ``*_post_delete``
        registry rows. Compaction folds them into a physical rewrite.
        Retracted ids stay retracted until then (ids are globally
        unique, so one is never legitimately re-ingested before)."""
        self.check(spark, handle, backfill=True)
        anchor = self.anchor_table(handle)
        with single_writer(spark, anchor, op="delete"):
            add_tombstones(spark, anchor, ids)

    def expire(self, spark: SparkSession, handle, before_stamp: int) -> None:
        """TTL expiry: retract every id whose latest ingest stamp
        predates ``before_stamp`` — expired ids → tombstones, the
        deletion path's probe/compaction machinery (oracle-proved by
        the ``*_post_ttl`` registry rows)."""
        self.check(spark, handle, backfill=True)
        anchor = self.anchor_table(handle)
        with single_writer(spark, anchor, op="expire"):
            add_tombstones(spark, anchor, expired_ids(spark, anchor, before_stamp))

    def compact(
        self, spark: SparkSession, handle, new_path: str
    ) -> dict[str, tuple[int, int]]:
        """Rewrite every bucketed table into ONE file per bucket,
        physically dropping tombstoned ids (and, with
        ``compact_distinct``, replayed duplicate rows), then fold the
        side relations. Returns {table: (files_before, files_after)}.

        Every append adds up to one file per non-empty bucket, so file
        count grows with batch cadence — the small-files decay of any
        bucketed CDC sink. Plain directory compaction
        (functions/layout.compact) would destroy the bucket layout;
        instead each table is re-written bucketed on its own key after
        repartitioning on the EXPLICIT bucket-id expression
        ``pmod(hash(key), n_buckets)`` — identical to the writer's
        bucket assignment — so every bucket's rows land whole in one
        task and the writer emits exactly one file per non-empty bucket.
        (Repartitioning on the raw key column is NOT enough: the
        write-side plan re-arranges rows so tasks end up holding several
        buckets each, one file per (task, bucket).) The rewrite lands at
        ``new_path`` (reading the live table while overwriting its own
        location is not safe), then each catalog entry is swapped
        rename-aside (swap_table — every failure window recoverable);
        the old generation's directory is the caller's scratch to
        reclaim. Unbucketed tables (the IVF centroids) are untouched."""
        self.check(spark, handle, backfill=True)
        names, anchor = self.names(handle), self.anchor_table(handle)
        out: dict[str, tuple[int, int]] = {}
        with single_writer(spark, anchor, op="compact"):
            tombs = tombstones(spark, anchor)
            for role, key in self.bucketed:
                table = names[role]
                before = len(spark.table(table).inputFiles())
                live = apply_tombstones(spark.table(table), tombs, self.id_col)
                if self.compact_distinct:
                    live = live.distinct()
                bucket_id = F.pmod(F.hash(F.col(key)), F.lit(self.n_buckets))
                write_bucketed(
                    live.repartition(self.n_buckets, bucket_id),
                    f"{table}_compacting",
                    os.path.join(new_path, role),
                    key,
                    self.n_buckets,
                )
                swap_table(spark, table, f"{table}_compacting")
                out[table] = (before, len(spark.table(table).inputFiles()))
            # deletions are physical now: tombstones spent, stamps kept
            # for survivors (TTL must work across generations)
            fold_side_tables(spark, anchor, new_path)
            write_index_meta(new_path, self.kind, self.tables)
        return out

    def merge(
        self, spark: SparkSession, dst, src, assume_disjoint: bool = True
    ) -> None:
        """Fold shard-built index ``src`` into ``dst`` — metadata only,
        nothing is re-derived. Exact for kinds whose per-id state does
        not depend on the rest of the corpus (LSH bands and shingle
        fingerprints, attributed grams): union-of-indexes ≡
        index-of-union, oracle-proved by the ``*_index_merge`` registry
        rows. The 100 TB build posture: shard the corpus across
        independent jobs, build each shard's index in parallel, then
        fold — the merge moves O(src index) rows. (IVF has no such
        identity — a vector's cell depends on the trained centroids, so
        its analog is re-assignment under dst's frozen centroids, i.e.
        extend_ann_index.)

        ``src``'s retractions are honored at read (deleted ids are not
        resurrected into ``dst``); its ingest-stamp ledger is carried
        verbatim (append_stamp_rows) so TTL expiry keeps the ORIGINAL
        ingest times. ``src`` itself is left untouched.

        ``assume_disjoint``: shard builds partition the id space, so src
        rows append as-is. With overlapping corpora pass False — src ids
        already in dst are skipped wholesale (one anti-join on dst's
        distinct ids) to keep per-id row sets exact (the dedup index's
        Jaccard verification counts rows; the gram index's duplicates
        are inert either way). The src reads are lazy but reference
        only src tables, so reading your own mid-merge writes cannot
        arise."""
        if self.anchor_table(dst) == self.anchor_table(src):
            raise ValueError(f"merge: src and dst are the same {self.kind} index")
        self.check(spark, dst, backfill=True)
        self.check(spark, src)
        s_anchor = self.anchor_table(src)
        s_tombs = tombstones(spark, s_anchor)
        s_names = self.names(src)
        live = {
            role: apply_tombstones(spark.table(s_names[role]), s_tombs, self.id_col)
            for role, _ in self.bucketed
        }
        d_anchor = self.anchor_table(dst)
        with single_writer(spark, d_anchor, op="merge"):
            if not assume_disjoint:
                seen = spark.table(d_anchor).select(self.id_col).distinct()
                live = {
                    role: snapshot_before_write(df.join(seen, self.id_col, "left_anti"))
                    for role, df in live.items()
                }
            ledger = stamp_rows(spark, s_anchor)
            if ledger is not None:
                append_stamp_rows(spark, d_anchor, apply_tombstones(ledger, s_tombs, "id"))
            self._append_rows(spark, dst, live)
        if not assume_disjoint:
            for df in live.values():
                unpersist_checkpoints(df)

    def maintenance(self, spark: SparkSession, handle) -> tuple:
        """This index's ``(anchor table, n_buckets, compact_fn)`` entry
        for streaming.maintenance.run_maintenance."""
        return (
            self.anchor_table(handle),
            self.n_buckets,
            lambda new_path: self.compact(spark, handle, new_path),
        )


DEDUP_LSH = IndexKind(
    kind="near_dup_lsh",
    tables={"bands": ["doc_id", "band_key"], "shingles": ["doc_id", "h"]},
    bucketed=(("bands", "band_key"), ("shingles", "doc_id")),
    id_col="doc_id",
)
CONTAMINATION_GRAMS = IndexKind(
    kind="contamination_grams",
    tables={"grams": ["doc_id", "gram"]},
    bucketed=(("grams", "gram"),),
    id_col="doc_id",
    compact_distinct=True,
)
ANN_IVF = IndexKind(
    kind="ann_ivf",
    tables={"centroids": ["cid", "ce", "ncent"], "cells": ["vec_id", "cell", "qe", "nq"]},
    bucketed=(("cells", "cell"),),
    id_col="vec_id",
)


# ---------------------------------------------------------------------------
# the index-family registry rows: one table, one composer
# ---------------------------------------------------------------------------

class IndexRow(NamedTuple):
    """One registry row over a persisted index. The scenario runs between
    the build and the probe:

    - ``plain``: build the corpus, probe the batch;
    - ``merge``: build corpus ∧ ``split`` and corpus ∧ ¬``split`` as two
      shard indexes, merge the second into the first, probe;
    - ``post_delete``: build, delete the ids matching ``pick``, probe;
    - ``post_ttl``: build corpus ∧ ``split`` at stamp 0, append the rest
      at stamp 1, re-stamp the ``pick`` ids at 1 (latest stamp wins),
      expire everything stamped before 1, probe;
    - ``retrain``: build corpus ∧ ``split``, append the rest under the
      then-frozen model, retrain on the whole, probe.

    ``split`` / ``pick``: SQL predicates over the id column. ``oracle``:
    the argument of the kind's oracle builder (None: its plain form)."""

    name: str
    kind: IndexKind
    scenario: str
    prefix: str
    split: str | None = None
    pick: str | None = None
    oracle: str | None = None


INDEX_ROWS = (
    # near-dup: batch doc_id % 4 == 0 probes the corpus % 4 != 0; the
    # oracle is the monolithic full-corpus LSH minus ``oracle``'s docs
    IndexRow("dedup_incremental_index", DEDUP_LSH, "plain", "ddidx"),
    # shards: odd ids and % 4 == 2
    IndexRow("dedup_index_merge", DEDUP_LSH, "merge", "ddmrg", split="doc_id % 2 = 1"),
    # % 8 == 1 ⇒ % 4 == 1: the deleted set is always corpus-only
    IndexRow(
        "dedup_index_post_delete", DEDUP_LSH, "post_delete", "ddidxd",
        pick="doc_id % 8 = 1", oracle="doc_id % 8 = 1",
    ),
    # both residues ≡ 1 (mod 4): the expired set is always corpus-only;
    # survivors = everything but % 8 == 5, plus the refreshed % 16 == 13
    IndexRow(
        "dedup_index_post_ttl", DEDUP_LSH, "post_ttl", "ddidxt",
        split="doc_id % 8 = 5", pick="doc_id % 16 = 13",
        oracle="doc_id % 8 = 5 AND doc_id % 16 <> 13",
    ),
    # decontamination: the held-out set doc_id % 50 == 0 is indexed, the
    # rest probed; the oracle is the monolithic recompute whose bench
    # universe is ``oracle``
    IndexRow("contamination_incremental_index", CONTAMINATION_GRAMS, "plain", "contidx"),
    # shards: even and odd multiples of 50
    IndexRow(
        "contamination_index_merge", CONTAMINATION_GRAMS, "merge", "contmrg",
        split="doc_id % 100 = 0",
    ),
    # half the held-out set is retracted: grams unique to it must stop
    # flagging, shared grams must keep flagging
    IndexRow(
        "contamination_index_post_delete", CONTAMINATION_GRAMS, "post_delete",
        "contidxd", pick="doc_id % 100 = 0",
        oracle="doc_id % 50 = 0 AND NOT (doc_id % 100 = 0)",
    ),
    IndexRow(
        "contamination_index_post_ttl", CONTAMINATION_GRAMS, "post_ttl", "contidxt",
        split="doc_id % 100 = 0", pick="doc_id % 200 = 0",
        oracle="doc_id % 50 = 0 AND (doc_id % 100 <> 0 OR doc_id % 200 = 0)",
    ),
    # IVF: the whole corpus is indexed, vec_id < N_QUERIES probed; the
    # oracle is ann_ivf_topk's verbatim
    IndexRow("ann_ivf_index_topk", ANN_IVF, "plain", "annidx"),
    # retrain resamples with the full-corpus stride, so it must
    # reproduce the monolithic result bit for bit
    IndexRow("ann_ivf_retrain_topk", ANN_IVF, "retrain", "annidxr", split="vec_id % 2 = 0"),
    # disjoint from the queries (vec_id < 10 < 37); the oracle drops
    # the deleted vectors from the candidate side only — centroids are
    # cell ADDRESSES and stay frozen across deletes
    IndexRow(
        "ann_ivf_index_post_delete", ANN_IVF, "post_delete", "annidxd",
        pick="vec_id % 50 = 37", oracle="vec_id % 50 = 37",
    ),
)


class IndexFamily(NamedTuple):
    """What the composer needs from one kind's module: its memos, the
    corpus/batch split, and the per-kind kernels."""

    spec: IndexKind
    memo: CheckpointMemo  # of the kind's rows
    merge_memo: CheckpointMemo | None  # the merge row's own (None: no merge row)
    corpus: str | None  # SQL predicate of the indexed corpus (None: all)
    batch: str  # SQL predicate of the probed batch
    load: Callable  # (spark, sf_dir) -> rows
    build: Callable  # (spark, sf_dir, rows, path, name, stamp, whole) -> handle
    ingest: Callable  # (spark, handle, rows, stamp) -> None
    probe: Callable  # (spark, batch, handle) -> (result, eviction extras)
    oracle: Callable  # IndexRow.oracle -> oracle SQL
    retrain: Callable | None = None  # (spark, handle, new_path) -> stats


def register_index_rows(family: IndexFamily) -> tuple:
    """Register every :data:`INDEX_ROWS` row of ``family``'s kind, in
    table order; returns the query functions. Each kind module calls
    this itself, after its kernels: registration order is the registry
    gate order's last tie-break (operators/registry.gate_order), so
    registering all 11 rows from one place would reorder the gate's
    verification prefix."""
    from ..operators.registry import query

    return tuple(
        query(row.name, oracle=family.oracle(row.oracle))(_row_query(family, row))
        for row in INDEX_ROWS
        if row.kind is family.spec
    )


def _row_query(fam: IndexFamily, row: IndexRow):
    spec = fam.spec

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        app = spark.sparkContext.applicationId
        plain = row.scenario in ("plain", "merge")
        key = (app, sf_dir) if plain else (app, sf_dir, row.scenario)
        memo = fam.merge_memo if row.scenario == "merge" else fam.memo
        cached = memo.get(key)
        if cached is not None:
            return cached
        docs = fam.load(spark, sf_dir)
        corpus = docs if fam.corpus is None else docs.filter(F.expr(fam.corpus))
        first, rest = corpus, None
        if row.split is not None:
            first = corpus.filter(F.expr(row.split))
            rest = corpus.filter(~F.expr(row.split))
        name = index_table_name(row.prefix, app, sf_dir)
        ttl = row.scenario == "post_ttl"
        if row.scenario == "merge":
            index = fam.build(
                spark, sf_dir, first, tempfile.mkdtemp(prefix=f"{name}a_"),
                f"{name}a", None, False,
            )
            src = fam.build(
                spark, sf_dir, rest, tempfile.mkdtemp(prefix=f"{name}b_"),
                f"{name}b", None, False,
            )
            spec.merge(spark, index, src)
        else:
            index = fam.build(
                spark, sf_dir, first, tempfile.mkdtemp(prefix=f"{name}_"),
                name, 0 if ttl else None, row.split is None and fam.corpus is None,
            )
        if row.scenario in ("post_ttl", "retrain"):
            fam.ingest(spark, index, rest, 1 if ttl else None)
        if ttl:
            # the refreshed slice arrives again at stamp 1: only its
            # stamp ledger row is new (its rows are already indexed) —
            # an index mutation all the same, so it holds the lock
            anchor = spec.anchor_table(index)
            with single_writer(spark, anchor, op="refresh"):
                ids = corpus.filter(F.expr(row.pick)).select(spec.id_col)
                record_stamps(spark, anchor, ids, stamp=1)
            spec.expire(spark, index, before_stamp=1)
        if row.scenario == "post_delete":
            spec.delete(spark, index, docs.filter(F.expr(row.pick)).select(spec.id_col))
        if row.scenario == "retrain":
            fam.retrain(spark, index, tempfile.mkdtemp(prefix=f"{name}_g2"))
        out, extras = fam.probe(spark, docs.filter(F.expr(fam.batch)), index)
        return memo.put(key, out.localCheckpoint(eager=True), *extras)

    run.__name__ = run.__qualname__ = row.name
    run.__doc__ = f"The {row.scenario} scenario of the {spec.kind} index (INDEX_ROWS)."
    return run
