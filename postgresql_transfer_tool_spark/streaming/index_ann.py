"""Streaming vector ingest into the persistent IVF index — the
continuous form of operators/ann_index.py (completes the index
trilogy's streaming story: near-dup streaming/index_dedup.py,
contamination streaming/index_contamination.py).

Embedding pipelines emit vectors continuously; each micro-batch must be
assigned under the frozen centroids and appended to the bucketed cells
table. Unlike the contamination index, DUPLICATE ROWS ARE NOT INERT
here: a vector appended twice surfaces twice in the probe's candidate
stream and occupies two ranks — wrong results, not just wasted storage.
So this sink needs the dedup sink's replay bracket, in its simplest
form (there is no admission decision, so no pre-PROBE repair — only
exactly-once ingest):

1. skip committed epochs (full replay);
2. if this epoch's ingest record exists (partial replay), REPAIR
   instead of append: extend with exactly the recorded ids missing
   from the cells table (an anti-join bounded by one epoch — covers
   the record-written → extend-lost crash window) and nothing else
   (covers the extend-done → commit-lost window: nothing is missing,
   nothing is re-appended, no duplicates ever);
3. otherwise write the ingest record FIRST, then extend;
4. commit the epoch.

Writing the record before the extend is what makes every crash window
repairable: a record without rows is completed by step 2; rows without
a commit are detected by step 2 finding nothing missing. (Record-less
rows are impossible — the record write precedes the extend.) The record
write itself is ALL-OR-NOTHING (exactly_once.write_epoch_record's
tmp-dir + rename): a plain parquet write commits file-by-file, and a
crash mid-commit would leave a readable SUBSET that the repair would
treat as the whole epoch, permanently dropping the missing vectors
(round-9 review finding). With the rename, a record that exists is
complete by construction.

The epoch id doubles as the ingest stamp, so TTL expiry
(expire_ann_index) works over streamed vectors for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..functions.index_base import ANN_IVF
from ..functions.memo import unpersist_checkpoints
from ..operators.ann_index import AnnIndex, extend_ann_index
from .maintenance import MaintenancePolicy, run_maintenance
from .exactly_once import (
    EpochLedger,
    epoch_collision_error,
    read_epoch_record,
    replay_contents_mismatch,
    check_batch_fingerprint,
    verify_committed_replay,
    write_epoch_record,
)


class AnnIndexSink:
    """foreachBatch target: exactly-once vector ingest under frozen
    centroids. Batches carry (vec_id, qe, nq) quantized rows."""

    def __init__(
        self,
        spark: SparkSession,
        index: AnnIndex,
        out_dir: str,
        maintenance: MaintenancePolicy | None = None,
    ) -> None:
        self.spark = spark
        self.index = index
        self.ingested_dir = os.path.join(out_dir, "ingested")
        self.ledger = EpochLedger(os.path.join(out_dir, "_epochs"))
        self.maintenance = maintenance

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        epoch_dir = os.path.join(self.ingested_dir, f"epoch={int(epoch_id)}")
        if int(epoch_id) in self.ledger.committed():
            # fail loudly on epoch-id collision (wiped checkpoint over a
            # surviving ledger) instead of silently dropping a renumbered
            # batch — the record holds the epoch's exact vec-id set
            verify_committed_replay(
                self.spark, batch_df, epoch_dir, int(epoch_id), "vec_id",
                ledger=self.ledger,
            )
            return
        # verify the batch against a stored fingerprint (exact collision
        # check that survives record retention); the first-delivery
        # write is deferred past the prior-record check so an impostor
        # batch cannot stamp its fingerprint onto a pre-fingerprint
        # uncommitted epoch on the way to the mismatch error (round-12
        # ADVICE)
        fp_verified, persist_fp = check_batch_fingerprint(
            self.ledger, batch_df, int(epoch_id), "vec_id"
        )
        prior = read_epoch_record(self.spark, epoch_dir)
        if prior is not None:
            # the record must be THIS batch's ids — a wiped checkpoint
            # renumbering a fresh batch onto this uncommitted epoch would
            # otherwise have its vectors silently dropped (the repair
            # extends only record ∩ batch) while the stale record stands
            if not fp_verified and replay_contents_mismatch(
                batch_df, prior, "vec_id"
            ):
                unpersist_checkpoints(prior)
                raise epoch_collision_error(int(epoch_id), committed=False)
            # batch consistent with the record — stamp the fingerprint
            persist_fp()
            # partial replay: extend with exactly the recorded ids whose
            # rows never reached the cells table. The anti-join's left
            # side is one epoch's ids; the cells side is pruned to the
            # id column. After a post-extend crash this is empty and
            # NOTHING is appended — replay can never duplicate a vector.
            # (A record that exists is COMPLETE — write_epoch_record.)
            try:
                indexed = self.spark.table(self.index.cells_table).select("vec_id")
                missing = prior.join(indexed, "vec_id", "left_anti").localCheckpoint(
                    eager=True
                )
                if missing.limit(1).count():
                    rows = batch_df.join(
                        missing.select("vec_id"), "vec_id", "left_semi"
                    ).localCheckpoint(eager=True)
                    extend_ann_index(
                        self.spark, self.index, rows, stamp=int(epoch_id)
                    )
                    unpersist_checkpoints(rows)
                unpersist_checkpoints(missing)
            finally:
                unpersist_checkpoints(prior)
        else:
            persist_fp()  # no prior record — first delivery, stamp it
            # the record precedes the extend — see module docstring
            batch_df = batch_df.localCheckpoint(eager=True)
            try:
                write_epoch_record(batch_df.select("vec_id"), epoch_dir)
                extend_ann_index(
                    self.spark, self.index, batch_df, stamp=int(epoch_id)
                )
            finally:
                unpersist_checkpoints(batch_df)
        self.ledger.commit(int(epoch_id))
        if self.maintenance is not None:
            # post-commit maintenance (streaming/maintenance.py)
            run_maintenance(
                self.spark, self.maintenance, int(epoch_id),
                indexes=[ANN_IVF.maintenance(self.spark, self.index)],
                ledger=self.ledger,
                record_dirs=[self.ingested_dir],
            )

    # -- read-back helper -------------------------------------------------
    def ingested(self) -> DataFrame:
        return self.spark.read.option("basePath", self.ingested_dir).parquet(
            self.ingested_dir
        )
