"""Sink-integrated index maintenance (VERDICT r10 #2).

Round 10 shipped the maintenance PRIMITIVES — `compaction_due`
(functions/index_base.py, the measured files-per-bucket / dead-ratio
policy) and `prune_epoch_records` (streaming/exactly_once.py, record
retention) — but nothing invoked them: a long-running stream
accumulated one file per non-empty bucket per epoch and one record dir
per epoch until an operator remembered. This module closes the loop:
every index sink accepts a :class:`MaintenancePolicy` and, AFTER each
epoch commit, every ``every_epochs`` epochs evaluates the compaction
policy and runs the index's compaction (under the writer lock, inside
the compact functions) plus optional record retention.

Placement of the hook — after the ledger commit — is what keeps the
exactly-once analysis untouched:

- Compaction is semantically a no-op (it folds tombstones and merges
  files; admission decisions are identical before and after — the
  long-run test pins admitted() bit-equality against a never-compacted
  run), so a crash anywhere inside it never loses epoch data; the
  generation swap's every failure window is recoverable
  (functions/index_base.swap_table / recover_swap), and a SIGKILL
  mid-compaction leaves the writer lock behind — the next extend fails
  loudly with the holder's pid rather than corrupting (the documented
  single-writer contract).
- Record retention prunes only COMMITTED epochs strictly older than
  the keep window; ledger markers and batch fingerprints survive, so
  replay skips and collision detection stay exact
  (exactly_once.prune_epoch_records). What retention trades away is
  the read-back history (admitted()/decisions() truncate to the
  window) — hence opt-in via ``keep_records``.

100 TB posture: this is the auto-compaction every LSM/lakehouse store
ships (RocksDB background compaction, Delta OPTIMIZE schedules); the
cadence knobs default to the MEASURED thresholds from
tools/compaction_cadence.py (SCALE.md) — files/bucket is the cost that
actually grows per epoch, dead-ratio the one that grows per retraction.
"""

from __future__ import annotations

import logging
import tempfile
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from ..functions.index_base import compaction_due
from .exactly_once import EpochLedger, prune_epoch_records

logger = logging.getLogger(__name__)


@dataclass
class MaintenancePolicy:
    """When and how a sink maintains its index between epochs.

    ``every_epochs``: evaluate after each epoch whose id is the last of
    an ``every_epochs``-sized stride (epoch ids are monotone within a
    checkpoint lineage, so this fires once per stride regardless of
    replays — a replayed epoch is ledger-skipped before the hook).
    ``keep_records``: if set, prune committed epoch records older than
    the newest ``keep_records`` committed epochs (None = never prune —
    the safe default, because records double as the sinks' queryable
    output). ``scratch_root``: where compaction generations land
    (a fresh tempdir per compaction when None). The threshold knobs
    pass through to :func:`~..functions.index_base.compaction_due`.
    ``history``: every fired action is appended here (observability +
    test hook)."""

    every_epochs: int = 8
    max_files_per_bucket: int = 8
    max_dead_ratio: float = 0.2
    #: auto-RETRAIN trigger (round 12 — VERDICT r11 #3): when a sink
    #: passes a ``retrain`` hook and the index's measured cell
    #: imbalance (max/median live cell population —
    #: operators/ann_index.cell_balance) exceeds this, the model is
    #: re-trained under the writer lock. None = retrain stays manual.
    #: Retrain is evaluated BEFORE compaction and supersedes it for
    #: that pass (the rewrite subsumes the compaction). Semantically it
    #: is NOT inert — post-retrain probes use resampled centroids —
    #: but it equals a fresh build over the accumulated corpus at the
    #: same cut (tests/test_auto_retrain.py pins trigger ≡ manual)
    max_cell_imbalance: float | None = None
    #: companion occupancy knob: mean live cell population over
    #: TARGET_CELL. Catches the OTHER degradation mode — scatter-type
    #: drift and plain growth fill every cell past the per-probe cost
    #: the adaptive cell count was sized for, without ever skewing the
    #: max/median ratio (tools/retrain_recall_curve.py measures both
    #: modes; SCALE.md records the curves)
    max_mean_cell_fill: float | None = None
    keep_records: int | None = None
    #: when set together with ``keep_records``, each record dir is
    #: archived under ``{archive_root}/{basename(record_dir)}`` BEFORE
    #: pruning — retention then reclaims replay state WITHOUT
    #: truncating the queryable history (read it back as
    #: union(archive, live) — exactly_once.archive_epoch_records)
    archive_root: str | None = None
    scratch_root: str | None = None
    history: list = field(default_factory=list)

    def due_this_epoch(self, epoch_id: int) -> bool:
        return (int(epoch_id) + 1) % self.every_epochs == 0


def retrain_due(balance: dict, policy: MaintenancePolicy) -> list[str]:
    """Why (if at all) the measured cell layout warrants a re-train
    under this policy — shared verbatim by :func:`run_maintenance` and
    the measurement tooling (tools/retrain_recall_curve.py), so the
    recorded curves evaluate exactly the deployed trigger."""
    reasons = []
    if (
        policy.max_cell_imbalance is not None
        and balance["imbalance"] > policy.max_cell_imbalance
    ):
        reasons.append(
            f"imbalance {balance['imbalance']:.2f} > {policy.max_cell_imbalance}"
        )
    if (
        policy.max_mean_cell_fill is not None
        and balance["mean_fill"] > policy.max_mean_cell_fill
    ):
        reasons.append(
            f"mean fill {balance['mean_fill']:.2f} > {policy.max_mean_cell_fill}"
        )
    return reasons


def run_maintenance(
    spark: SparkSession,
    policy: MaintenancePolicy,
    epoch_id: int,
    *,
    indexes: list[tuple[str, int, object]],
    ledger: EpochLedger,
    record_dirs: list[str],
    state_dirs: list[str] = (),
    retrain: tuple | None = None,
) -> None:
    """The post-commit maintenance pass every sink shares.

    ``indexes``: (any_index_table, n_buckets, compact_fn) per index the
    sink writes — ``IndexKind.maintenance`` (functions/index_base.py)
    builds the entry; ``compact_fn(new_path)`` runs the kind's
    compaction (which takes the writer lock itself). ``record_dirs``:
    the sink's per-epoch record roots, pruned together under one
    retention cutoff. ``state_dirs``: per-epoch STATE record roots
    (e.g. the funnel's ``_budget`` dir) — pruned under the same cutoff
    but never archived: only the newest committed state record is ever
    read back (each record already accumulates the full history), so
    archiving would duplicate data nobody reads while an unbounded dir
    is exactly what retention exists to prevent (round-12 ADVICE).
    Exceptions are NOT swallowed: maintenance runs
    after the commit, so a failure loses no epoch data, and a broken
    policy (wrong scratch path, held lock past the wait) should stop
    the stream loudly rather than silently never compacting."""
    if not policy.due_this_epoch(epoch_id):
        return
    retrained_tables: set[str] = set()
    if retrain is not None:
        # (table, balance_fn, retrain_fn): measure the index's cell
        # layout and re-train the model when it degraded past either
        # armed knob. Evaluated FIRST — a retrain rewrites the whole
        # index, so compacting the same table in the same pass would be
        # wasted work (it is skipped below).
        table, balance_fn, retrain_fn = retrain
        balance = balance_fn()
        reasons = retrain_due(balance, policy)
        if reasons:
            new_path = tempfile.mkdtemp(
                prefix=f"{table}_retrain_gen{int(epoch_id) + 1}_",
                dir=policy.scratch_root,
            )
            stats = retrain_fn(new_path)
            retrained_tables.add(table)
            logger.info(
                "epoch %d: retrained %s (%s) -> %s",
                epoch_id, table, "; ".join(reasons), stats,
            )
            policy.history.append(
                {"epoch": int(epoch_id), "table": table,
                 "retrained": True, "balance": balance,
                 "reasons": reasons, "stats": stats}
            )
    for table, n_buckets, compact_fn in indexes:
        if table in retrained_tables:
            continue  # the retrain already rewrote this generation
        due = compaction_due(
            spark,
            table,
            n_buckets,
            max_files_per_bucket=policy.max_files_per_bucket,
            max_dead_ratio=policy.max_dead_ratio,
        )
        if due["due"]:
            new_path = tempfile.mkdtemp(
                prefix=f"{table}_gen{int(epoch_id) + 1}_",
                dir=policy.scratch_root,
            )
            stats = compact_fn(new_path)
            logger.info(
                "epoch %d: compacted %s (%s) -> %s", epoch_id, table,
                "; ".join(due["reasons"]), stats,
            )
            policy.history.append(
                {"epoch": int(epoch_id), "table": table,
                 "reasons": due["reasons"], "stats": stats}
            )
    if policy.keep_records is not None:
        committed = ledger.committed()
        if len(committed) > policy.keep_records:
            cutoff = sorted(committed)[-policy.keep_records]
            if policy.archive_root is not None:
                import os

                from .exactly_once import archive_epoch_records

                archived = sum(
                    archive_epoch_records(
                        spark, d, ledger,
                        os.path.join(
                            policy.archive_root, os.path.basename(d.rstrip("/"))
                        ),
                        before_epoch=cutoff,
                    )
                    for d in record_dirs
                )
                if archived:
                    policy.history.append(
                        {"epoch": int(epoch_id), "archived_records": archived}
                    )
            pruned = sum(
                prune_epoch_records(d, ledger, before_epoch=cutoff)
                for d in (*record_dirs, *state_dirs)
            )
            if pruned:
                logger.info(
                    "epoch %d: pruned %d epoch records older than %d",
                    epoch_id, pruned, cutoff,
                )
                policy.history.append(
                    {"epoch": int(epoch_id), "pruned_records": pruned,
                     "before_epoch": cutoff}
                )
