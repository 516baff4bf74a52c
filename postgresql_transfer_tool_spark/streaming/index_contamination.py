"""Streaming held-out-set ingest into the persistent contamination
index — the continuous form of operators/contamination_index.py
(VERDICT r8 #4).

Benchmarks arrive as a stream too (new versions, new held-out sets,
freshly quarantined eval data); each micro-batch of benchmark documents
must become part of the decontamination gram universe before the next
training batch is probed. foreachBatch is the surface, as with the
near-dup sink, but the replay analysis is STRUCTURALLY simpler — by
design of the round-9 attributed schema:

- The gram index stores (doc_id, gram) rows and every probe collapses
  to DISTINCT surviving grams, so duplicate rows are semantically
  inert. A replayed epoch's re-append changes nothing a probe can see;
  compaction (compact_contamination_index) reclaims the storage.
- Unlike the near-dup sink, ingest makes no admission DECISION from
  probe results — there is no output whose correctness depends on what
  reached the index before the crash, hence no pre-probe repair window
  and no pre-filter requirement at all.

The EpochLedger therefore guards COST, not correctness: a committed
epoch is skipped outright (no re-tokenization), and the only
crash-window consequence anywhere (crash after append, before commit)
is duplicate rows that the next compaction folds.

The per-epoch doc-id record written under ``ingested/epoch=N`` is
observability (which bench docs landed when) and rewrite-idempotent.
The epoch id doubles as the ingest STAMP, so TTL expiry
(expire_contamination_index) works over streamed benchmarks for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..functions.index_base import CONTAMINATION_GRAMS
from ..operators.contamination_index import extend_contamination_index
from .maintenance import MaintenancePolicy, run_maintenance
from .exactly_once import (
    EpochLedger,
    verify_batch_fingerprint,
    verify_committed_replay,
    write_epoch_record,
)


class ContaminationIndexSink:
    """foreachBatch target: continuous benchmark ingest.

    Per micro-batch of (doc_id, text) held-out rows:

    1. skip if the epoch is committed (replay: the ledger saves the
       re-tokenization; correctness never needed it);
    2. extend the gram index with the batch's attributed rows, stamped
       with the epoch id (single-writer-locked inside extend);
    3. write the epoch's doc-id record (idempotent overwrite);
    4. commit the epoch.
    """

    def __init__(
        self,
        spark: SparkSession,
        grams_table: str,
        out_dir: str,
        maintenance: MaintenancePolicy | None = None,
    ) -> None:
        self.spark = spark
        self.grams_table = grams_table
        self.ingested_dir = os.path.join(out_dir, "ingested")
        self.ledger = EpochLedger(os.path.join(out_dir, "_epochs"))
        self.maintenance = maintenance

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if int(epoch_id) in self.ledger.committed():
            # fail loudly on epoch-id collision (wiped checkpoint over a
            # surviving ledger) instead of silently dropping a renumbered
            # batch — the record holds the epoch's exact doc-id set
            verify_committed_replay(
                self.spark,
                batch_df,
                os.path.join(self.ingested_dir, f"epoch={int(epoch_id)}"),
                int(epoch_id),
                "doc_id",
                ledger=self.ledger,
            )
            return
        # store/verify the batch fingerprint before the extend (exact
        # collision check that survives record retention; a replayed
        # epoch's re-extend stays harmless — duplicate gram rows are
        # probe-inert — but a RENUMBERED batch now fails loudly here
        # instead of silently merging into a foreign epoch's record)
        verify_batch_fingerprint(self.ledger, batch_df, int(epoch_id), "doc_id")
        extend_contamination_index(
            self.spark, self.grams_table, batch_df, stamp=int(epoch_id)
        )
        write_epoch_record(
            batch_df.select("doc_id").distinct(),
            os.path.join(self.ingested_dir, f"epoch={int(epoch_id)}"),
        )
        self.ledger.commit(int(epoch_id))
        if self.maintenance is not None:
            # post-commit maintenance: replayed-append duplicate rows
            # and tombstoned docs fold out physically on the measured
            # cadence (streaming/maintenance.py)
            run_maintenance(
                self.spark, self.maintenance, int(epoch_id),
                indexes=[CONTAMINATION_GRAMS.maintenance(self.spark, self.grams_table)],
                ledger=self.ledger,
                record_dirs=[self.ingested_dir],
            )

    # -- read-back helper (test / downstream convenience) ----------------
    def ingested(self) -> DataFrame:
        return self.spark.read.option("basePath", self.ingested_dir).parquet(
            self.ingested_dir
        )
