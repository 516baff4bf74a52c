"""The per-source token budget gate of the admission funnel, written
once for the single-stream sink (streaming/ingest_funnel.IngestFunnelSink)
and for every stream of the partitioned coordinator
(streaming/multi_admission.PartitionedFunnelStreams).

Rule: a funnel-admitted document is taken iff its FIRST token fits its
source's remaining budget — preceding tokens = the persisted
cross-epoch consumption plus the lower-id admitted documents of this
batch (the first-token-lands rule of sequence packing; the boundary
document is taken whole). With id-ordered epochs the rule is
epoch-cut-invariant: earlier epochs' admitted tokens are exactly the
state, so N streamed epochs equal the monolithic window.

State: one tiny (source, cum_tokens) record per epoch under
``state_dir``, derived from the FINAL decision record and written
rename-aside after it, so a crash between the two writes is repaired
by recomputing the state on replay (idempotent overwrite). A lost or
ownership-stale state record is rebuilt from the decision records.
Only two shapes of a decision dir count as "no decisions yet": absent,
or holding no parquet part file. Any other read error (a corrupt
footer, a drifted schema) propagates — swallowing it would zero the
prior consumption and admit past the cap.
"""

from __future__ import annotations

import functools
import logging
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.memo import unpersist_checkpoints
from .exactly_once import EpochLedger, read_epoch_record, write_epoch_record


def read_decision_dirs(spark: SparkSession, dirs: list[str]) -> DataFrame | None:
    """Union of the decision records under ``dirs`` (each read with its
    epoch partition column); None when no dir holds a parquet part.
    Read errors from a dir that does hold parts propagate."""
    parts = [
        spark.read.option("basePath", d).parquet(d)
        for d in dirs
        if any(f.endswith(".parquet") for _r, _d, fs in os.walk(d) for f in fs)
    ]
    return functools.reduce(DataFrame.unionByName, parts) if parts else None


class SourceBudget:
    """The budget gate of one decision stream.

    ``cap``: an int is a uniform per-source cap; a (source,
    budget_tokens) DataFrame caps each source at its own budget (a
    source absent from it gets 0 — unknown domains are refused, not
    silently uncapped). ``per_epoch``: ``cap`` is an allotment per
    epoch and the cap applied at epoch k is (k+1)×allotment, so unmet
    budget carries forward with no extra state (needs contiguous
    0-based epochs). ``decision_dirs``: the dirs the state is rebuilt
    from, listed at rebuild time (after a re-shard a source's history
    lives in its former owner's dir)."""

    def __init__(
        self,
        spark: SparkSession,
        cap,
        ledger: EpochLedger,
        state_dir: str,
        decision_dirs: Callable[[], list[str]],
        per_epoch: bool = False,
    ) -> None:
        self.spark = spark
        self.cap = cap
        self.ledger = ledger
        self.state_dir = state_dir
        self.decision_dirs = decision_dirs
        self.per_epoch = per_epoch

    def state(self, epoch_id: int, valid_since: int = 0) -> DataFrame:
        """(source, cum_tokens) admitted BEFORE ``epoch_id``: the state
        record of the newest committed epoch below it while that epoch
        is >= ``valid_since`` (the epoch since which this stream's slice
        ownership is stable), else the aggregate of the decision
        records — O(history), only paid on a recovery path."""
        empty = self.spark.createDataFrame([], "source string, cum_tokens bigint")
        if epoch_id == 0:
            return empty
        committed = [e for e in self.ledger.committed() if e < epoch_id]
        if committed and max(committed) >= valid_since:
            last = max(committed)
            state = read_epoch_record(
                self.spark, os.path.join(self.state_dir, f"epoch={last}")
            )
            if state is not None:
                return state
            logging.getLogger(__name__).warning(
                "budget state record for epoch %d is missing — rebuilding "
                "from the decision records (slow path; if retention pruned "
                "them, arm MaintenancePolicy.archive_root or keep the "
                "_budget dir)", last,
            )
        dec = read_decision_dirs(self.spark, self.decision_dirs())
        if dec is None:
            return empty
        return (
            dec.filter(F.col("admitted") & (F.col("epoch") < epoch_id))
            .groupBy("source")
            .agg(F.sum("n_tokens").cast("bigint").alias("cum_tokens"))
        )

    def apply(
        self, decisions: DataFrame, batch_df: DataFrame, epoch_id: int,
        valid_since: int = 0,
    ) -> DataFrame:
        """Re-derive ``admitted`` with the budget conjunct; decisions
        gain the batch's ``source`` column, every other column is
        untouched."""
        prior = self.state(epoch_id, valid_since)
        pre = decisions.join(batch_df.select("doc_id", "source"), "doc_id")
        w = Window.partitionBy("source").orderBy("doc_id")
        scored = (
            pre.filter(F.col("admitted"))
            .select("doc_id", "source", "n_tokens")
            .withColumn("cum_local", F.sum("n_tokens").over(w) - F.col("n_tokens"))
            .join(F.broadcast(prior), "source", "left")
        )
        if isinstance(self.cap, int):
            cap = F.lit(self.cap)
        else:
            scored = scored.join(F.broadcast(self.cap), "source", "left")
            cap = F.coalesce("budget_tokens", F.lit(0))
        if self.per_epoch:
            cap = cap * F.lit(int(epoch_id) + 1)
        in_budget = scored.filter(
            F.col("cum_local") + F.coalesce("cum_tokens", F.lit(0)) < cap
        ).select("doc_id")
        cols = [c for c in decisions.columns if c != "admitted"]
        # both broadcast sides are bounded by construction: the prior
        # state is one row per source, and in_budget is a subset of ONE
        # micro-batch's ids (epoch size is operator-controlled)
        out = pre.join(
            F.broadcast(in_budget.withColumn("in_budget", F.lit(True))),
            "doc_id",
            "left",
        )
        return out.select(
            *cols,
            "source",
            (F.col("admitted") & F.coalesce("in_budget", F.lit(False))).alias("admitted"),
        )

    def write_state(
        self, decisions_record: DataFrame, epoch_id: int, valid_since: int = 0
    ) -> None:
        """state(N) = state(N-1) + this epoch's admitted tokens per
        source, from the FINAL decision record (so replay recomputation
        is bit-identical); written rename-aside like every record."""
        this = (
            decisions_record.filter(F.col("admitted"))
            .groupBy("source")
            .agg(F.sum("n_tokens").cast("bigint").alias("t"))
        )
        new = (
            self.state(epoch_id, valid_since)
            .join(this, "source", "full")
            .select(
                "source",
                (F.coalesce("cum_tokens", F.lit(0)) + F.coalesce("t", F.lit(0)))
                .cast("bigint")
                .alias("cum_tokens"),
            )
        )
        write_epoch_record(new, os.path.join(self.state_dir, f"epoch={epoch_id}"))

    def record_state(self, epoch_dir: str, epoch_id: int, valid_since: int = 0) -> None:
        """:meth:`write_state` from the decision record just written to
        ``epoch_dir`` — the step after the decision write."""
        rec = read_epoch_record(self.spark, epoch_dir)
        try:
            self.write_state(rec, epoch_id, valid_since)
        finally:
            unpersist_checkpoints(rec)
