"""Streaming admission funnel — the three persistent indexes composed
into ONE per-epoch `foreachBatch` pipeline (VERDICT r9 "Next round" #2).

`operators/ingest.py` proves the composed admission predicate — novel
under the near-dup index ∧ uncontaminated under the benchmark gram
index ∧ above the quality floor — for one batch. A real 100 TB pipeline
runs that predicate continuously: documents arrive as a stream of
micro-batches, each must be decided against EVERYTHING probed before
it, and the near-dup index must grow with each epoch so the next one
sees it. This sink is that composition: per epoch it probes the dedup
index (`dedup_batch_against_index` — bucketed index side never
shuffled), probes the contamination gram index
(`check_batch_contamination`), applies the token floor, emits one
decision row per document with the audit-evidence columns, and extends
the dedup index — exactly-once under replay.

Index discipline — "seen = probed", not "seen = admitted": the funnel
appends the signatures of EVERY probed document, duplicates included
(`operators/dedup_index.append_all_signatures`). Two reasons:

- It makes the dup rule epoch-invariant: "doc d is a duplicate iff it
  verified-pairs with any doc probed before it, or a lower-id doc in
  its own epoch" — the same rule no matter how the stream is cut into
  epochs. Novel-only indexing would make admission depend on epoch
  boundaries through dup-chains (a→b→c with no a–c pair: b's fate
  decides c's), which is both surprising operationally and
  un-oracle-able.
- It is exactly the batch funnel's rule: with epochs delivered as
  nondecreasing doc_id ranges (the monotone-serial ingest contract the
  reference's incremental loop relies on,
  transfer_data_script.py:96-133 — its HWM batches are id-ordered by
  construction), N streamed epochs produce bit-for-bit the monolithic
  batch decisions, which is what the `streaming_ingest_funnel` driver
  row proves against the same DuckDB oracle as the batch funnel.

The contamination index is probe-only here: training documents never
enter the held-out gram universe. Benchmarks stream in through their
own sink (`streaming/index_contamination.py`) against the same grams
table — composing the two sinks on one table is the full pipeline; this
sink needs no knowledge of how the gram side grows.

Exactly-once analysis (the decisions record is written rename-aside, so
existence ⇒ completeness AND overwrite leaves no record-less window —
streaming/exactly_once.write_epoch_record):

1. committed epoch → verify the redelivered batch is the recorded one,
   then skip (full replay). The verification turns the one
   unrecoverable operator error — wiping the streaming checkpoint while
   the sink ledger survives, which renumbers fresh batches from 0 —
   from silent data loss into a loud error naming the recovery unit;
2. decisions record exists (partial replay) → the probe already ran and
   its output is durable; the only work possibly lost is the index
   extension. Repair: re-derive signatures for recorded docs missing
   from the shingle index (anti-join bounded by one epoch) and append
   them under the extend contract, then commit. After a post-extend
   crash the anti-join finds only shingle-less docs, whose re-derived
   signature set is empty — nothing is appended, replay is idempotent.
   No re-probe happens, so the probe always runs against an index free
   of its own batch (the prober's disjoint-id contract).
3. no record → probe, write decisions record, extend with all probed
   signatures (stamps-before-append, single-writer), commit.

Crash between the two table appends inside the extension (bands landed,
shingles not): the repair anti-join is keyed on the SHINGLE table, so
those docs are re-appended to both tables. The duplicate band rows are
probe-inert (candidate pairs are `.distinct()`ed) and compaction
reclaims them; shingle rows — the Jaccard-count substrate, where a
duplicate WOULD corrupt results — are never duplicated.

The epoch id doubles as the ingest stamp, so TTL expiry
(`expire_dedup_index`) works over streamed admissions for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.index_base import ANN_IVF, DEDUP_LSH
from ..functions.memo import unpersist_checkpoints
from ..operators.ann_index import extend_ann_index
from ..operators.contamination_index import check_batch_contamination
from ..operators.dedup_index import (
    append_all_signatures,
    batch_signatures,
    DedupIndex,
    dedup_batch_against_index,
)
from ..operators.ingest import (
    apply_embedding_stage,
    apply_media_stage,
    embedding_nn_probe,
    embedding_nn_probe_growing,
    funnel_decisions,
)
from ..operators.multimodal import (
    MediaFpIndex,
    extend_media_fp_index,
    probe_media_fp,
    repair_media_fp_index,
)
from .maintenance import MaintenancePolicy, run_maintenance
from .source_budget import SourceBudget
from .exactly_once import (
    EpochLedger,
    epoch_collision_error,
    read_epoch_record,
    replay_contents_mismatch,
    check_batch_fingerprint,
    verify_committed_replay,
    write_epoch_record,
)


class IngestFunnelSink:
    """foreachBatch target: continuous composed admission.

    Per micro-batch of (doc_id, text) rows: probe dedup index →
    contamination probe → quality floor → write per-doc decision rows
    under ``decisions/epoch=N`` → extend the dedup index with all
    probed signatures → commit the epoch. See the module docstring for
    the replay bracket and the seen=probed index discipline.
    """

    def __init__(
        self,
        spark: SparkSession,
        index: DedupIndex,
        grams_table: str,
        out_dir: str,
        ann_index=None,
        embeddings: DataFrame | None = None,
        nprobe: int | None = None,
        grow_ann: bool = False,
        maintenance: MaintenancePolicy | None = None,
        source_budget: int | None = None,
        budget_per_epoch: bool = False,
        media_index: MediaFpIndex | None = None,
    ) -> None:
        """``ann_index`` + ``embeddings`` (a (vec_id, qe, nq) lookup
        relation, vec_id = doc_id) switch on the embedding-novelty
        stage: each epoch's docs additionally probe the persisted IVF
        index for their nearest ACCUMULATED neighbor, and the decision
        gains is_emb_novel / nn_cosine columns
        (operators/ingest.apply_embedding_stage — shared with the batch
        query, same oracle).

        ``grow_ann`` selects between the two oracle-stated embedding
        rules:

        - False (probe-only): embedding-novel vs THE CORPUS — the IVF
          index never grows, matching `incremental_ingest_funnel_ann`'s
          rule (extending it would change the semantics away from that
          oracle).
        - True (growing — round 11): embedding-novel vs corpus ∪
          lower-id streamed vectors. The sink extends the IVF index with
          EVERY probed epoch's vectors (seen=probed, the dedup index's
          discipline) after the decisions are durable, and the probe
          additionally considers same-epoch lower-id vectors in the
          probed cells (operators/ingest.embedding_nn_probe_growing), so
          with id-ordered epochs the rule is epoch-cut-invariant and
          matches `incremental_ingest_funnel_ann_growing`'s oracle.
          Replay repair mirrors the dedup path: recorded doc ids missing
          from the cells table are re-extended (anti-join bounded by one
          epoch; embedding-less docs re-derive to zero rows)."""
        self.spark = spark
        self.index = index
        self.grams_table = grams_table
        self.ann_index = ann_index
        self.embeddings = embeddings
        self.grow_ann = grow_ann
        if (ann_index is None) != (embeddings is None):
            raise ValueError("pass ann_index and embeddings together")
        if grow_ann and ann_index is None:
            raise ValueError("grow_ann requires ann_index + embeddings")
        if nprobe is None:
            from ..operators.similarity import NPROBE as nprobe
        self.nprobe = nprobe
        self.decisions_dir = os.path.join(out_dir, "decisions")
        self.ledger = EpochLedger(os.path.join(out_dir, "_epochs"))
        self.maintenance = maintenance
        #: per-source token budget carried ACROSS epochs
        #: (streaming/source_budget.SourceBudget): when set, batches
        #: must carry a ``source`` column, decisions gain it, and
        #: ``admitted`` additionally requires the doc's first token to
        #: fit its source's remaining budget. An int is a UNIFORM cap; a
        #: (source, budget_tokens) DataFrame caps each source at its own
        #: budget (operators/ingest.source_weight_budgets).
        #: ``budget_per_epoch`` makes it a per-epoch allotment with
        #: carry-over: the cap at epoch k is (k+1)×allotment.
        self.budget = (
            None
            if source_budget is None
            else SourceBudget(
                spark, source_budget, self.ledger,
                os.path.join(out_dir, "_budget"),
                lambda: [self.decisions_dir],
                per_epoch=budget_per_epoch,
            )
        )
        #: cross-modal media stage (round 13 — VERDICT #3): when set,
        #: each epoch's docs additionally probe the persistent media
        #: fingerprint table (equality-bucketed, seen = probed), the
        #: decision gains is_media_novel, and the REJECTION rule becomes
        #: text-dup OR media-dup — the streaming counterpart of
        #: dedup_cross_modal_media's batch composition.
        self.media_index = media_index

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        epoch_dir = os.path.join(self.decisions_dir, f"epoch={int(epoch_id)}")
        if int(epoch_id) in self.ledger.committed():
            # A committed epoch is normally a harmless redelivery — but
            # epoch ids are only meaningful WITHIN one streaming
            # checkpoint lineage. If the checkpoint was wiped while the
            # sink's ledger survived, the restarted query numbers fresh
            # batches from 0 and a bare skip would silently drop their
            # data. Verify the redelivered batch IS the recorded one
            # (same doc_id set as the epoch's decision record) and fail
            # loudly on mismatch: the checkpoint and the sink state are
            # ONE recovery unit — restore or reset them together.
            self._verify_replay(batch_df, epoch_dir, int(epoch_id))
            return
        # verify the batch against a stored fingerprint (a match proves
        # the redelivered batch IS this epoch's own, exact even for
        # renumbered supersets; the stored fingerprint also keeps the
        # committed-skip check exact after record retention prunes the
        # decision record). The first-delivery WRITE is deferred past
        # the prior-record check: an impostor batch on a
        # pre-fingerprint uncommitted epoch must not stamp its own
        # fingerprint on the way to the mismatch error (round-12
        # ADVICE — the stamped lie would wedge the legitimate batch's
        # replay after checkpoint restore).
        fp_verified, persist_fp = check_batch_fingerprint(
            self.ledger, batch_df, int(epoch_id), "doc_id"
        )
        prior = read_epoch_record(self.spark, epoch_dir)
        if prior is not None:
            # Partial replay: decisions are complete (existence ⇒
            # completeness), so only the index extension can be missing.
            # Repair it from the redelivered rows and commit — never
            # re-probe (the probe must see an index free of this batch).
            # But FIRST verify the record IS this batch's (same doc_id
            # set): a wiped checkpoint can renumber a fresh batch onto
            # an uncommitted epoch that left a record, and trusting the
            # stale record here would silently drop the new batch's
            # documents (round-10 review — the committed path one branch
            # above already guarded this exact operator error).
            try:
                if not fp_verified and replay_contents_mismatch(
                    batch_df, prior, "doc_id"
                ):
                    raise epoch_collision_error(int(epoch_id), committed=False)
                # batch consistent with the record — stamp the
                # fingerprint now (no-op when already stored)
                persist_fp()
                indexed = self.spark.table(self.index.shingles_table).select(
                    "doc_id"
                )
                missing = prior.select("doc_id").join(
                    indexed, "doc_id", "left_anti"
                ).localCheckpoint(eager=True)
                if missing.limit(1).count():
                    rows = batch_df.join(
                        missing, "doc_id", "left_semi"
                    ).localCheckpoint(eager=True)
                    m_hashed, m_bands, m_pre = batch_signatures(rows)
                    append_all_signatures(
                        self.spark,
                        self.index,
                        m_bands,
                        m_hashed,
                        stamp=int(epoch_id),
                        op="replay-repair",
                    )
                    for d in (m_hashed, m_bands, m_pre, rows):
                        unpersist_checkpoints(d)
                unpersist_checkpoints(missing)
                if self.grow_ann:
                    # same repair for the growing IVF index: recorded
                    # docs whose vectors never reached the cells table
                    # (the ann-extend → commit crash window) are
                    # re-extended; embedding-less docs produce no row
                    # and a post-extend crash re-appends nothing —
                    # idempotent, no vector ever duplicated.
                    self._repair_ann(prior, int(epoch_id))
                if self.media_index is not None:
                    # same repair for the media fp table: recorded docs
                    # whose fingerprints never landed are re-derived and
                    # appended; a post-extend crash re-appends nothing
                    repair_media_fp_index(
                        self.spark, self.media_index, prior, batch_df
                    )
                if self.budget is not None:
                    # the budget-state record is derived from the
                    # decision record, so a crash between the two
                    # writes is repaired by recomputing it (idempotent
                    # overwrite after a post-state crash)
                    self.budget.write_state(prior, int(epoch_id))
            finally:
                unpersist_checkpoints(prior)
            self.ledger.commit(int(epoch_id))
            self._maybe_maintain(int(epoch_id))
            return
        persist_fp()  # no prior record — first delivery, stamp it
        batch_df = batch_df.localCheckpoint(eager=True)
        res = dedup_batch_against_index(self.spark, batch_df, self.index)
        cont = check_batch_contamination(self.spark, batch_df, self.grams_table)
        mfps = None
        try:
            decisions = funnel_decisions(batch_df, res.novel_ids, cont)
            if self.ann_index is not None:
                probe_fn = (
                    embedding_nn_probe_growing
                    if self.grow_ann
                    else embedding_nn_probe
                )
                decisions = apply_embedding_stage(
                    decisions,
                    probe_fn(
                        self.spark,
                        batch_df.select("doc_id"),
                        self.embeddings,
                        self.ann_index,
                        nprobe=self.nprobe,
                    ),
                )
            if self.media_index is not None:
                mfps, m_novel = probe_media_fp(
                    self.spark, batch_df, self.media_index
                )
                decisions = apply_media_stage(decisions, m_novel)
            if self.budget is not None:
                decisions = self.budget.apply(decisions, batch_df, int(epoch_id))
            write_epoch_record(decisions, epoch_dir)
            if self.budget is not None:
                self.budget.record_state(epoch_dir, int(epoch_id))
            append_all_signatures(
                self.spark,
                self.index,
                res.batch_bands,
                res.batch_shingles,
                stamp=int(epoch_id),
            )
            if mfps is not None:
                # seen = probed for the media side too: every probed
                # doc's fingerprint enters the fp table, so the next
                # epoch's media stage sees all earlier streamed docs
                extend_media_fp_index(self.spark, self.media_index, mfps)
            if self.grow_ann:
                # seen = probed for the vector side too: EVERY probed
                # doc's embedding enters the IVF index (frozen corpus
                # centroids address it), so the next epoch's embedding
                # stage sees all earlier streamed vectors — the exact
                # analog of append_all_signatures one line up.
                vecs = self.embeddings.join(
                    batch_df.select(F.col("doc_id").alias("vec_id")),
                    "vec_id",
                    "left_semi",
                )
                extend_ann_index(
                    self.spark, self.ann_index, vecs, stamp=int(epoch_id)
                )
            self.ledger.commit(int(epoch_id))
        finally:
            for d in (*res.checkpoints, cont, batch_df):
                unpersist_checkpoints(d)
            if mfps is not None:
                unpersist_checkpoints(mfps)
        self._maybe_maintain(int(epoch_id))

    def _maybe_maintain(self, epoch_id: int) -> None:
        """Post-commit maintenance (streaming/maintenance.py): compact
        the dedup index — and, when grow_ann, the growing IVF index —
        when the measured policy says so; optionally prune old decision
        records. Runs AFTER the commit, so no failure here can lose
        epoch data, and admissions are bit-identical to a
        never-compacted run (compaction is semantically a no-op;
        pinned by tests/test_streaming_maintenance.py)."""
        if self.maintenance is None:
            return
        indexes = [DEDUP_LSH.maintenance(self.spark, self.index)]
        retrain = None
        if self.grow_ann:
            indexes.append(ANN_IVF.maintenance(self.spark, self.ann_index))
            if (
                self.maintenance.max_cell_imbalance is not None
                or self.maintenance.max_mean_cell_fill is not None
            ):
                # the growing IVF index is the one whose health MOVES
                # every epoch — arm the auto-retrain hook (round 12):
                # measured cell imbalance past the knob → retrain under
                # the writer lock, superseding that pass's compaction
                from ..operators.ann_index import cell_balance, retrain_ann_index

                retrain = (
                    self.ann_index.cells_table,
                    lambda: cell_balance(self.spark, self.ann_index),
                    lambda p: retrain_ann_index(self.spark, self.ann_index, p),
                )
        run_maintenance(
            self.spark, self.maintenance, epoch_id,
            indexes=indexes,
            ledger=self.ledger,
            record_dirs=[self.decisions_dir],
            # the budget-state dir grows one record per epoch on exactly
            # the long streams retention targets; each record already
            # carries the accumulated totals, so pruning old ones loses
            # nothing the gate reads (round-12 ADVICE)
            state_dirs=[self.budget.state_dir] if self.budget is not None else [],
            retrain=retrain,
        )

    def _repair_ann(self, prior: DataFrame, epoch_id: int) -> None:
        """Re-extend the growing IVF index with recorded docs whose
        vectors never reached the cells table (anti-join bounded by one
        epoch's record; vectors come from the stable embeddings lookup
        relation, not the redelivered batch — equivalent by the
        vec_id = doc_id alignment and immune to batch re-ordering)."""
        cells = self.spark.table(self.ann_index.cells_table).select("vec_id")
        vec_missing = prior.select(F.col("doc_id").alias("vec_id")).join(
            cells, "vec_id", "left_anti"
        )
        rows = self.embeddings.join(
            vec_missing, "vec_id", "left_semi"
        ).localCheckpoint(eager=True)
        if rows.limit(1).count():
            extend_ann_index(self.spark, self.ann_index, rows, stamp=epoch_id)
        unpersist_checkpoints(rows)

    def _verify_replay(
        self, batch_df: DataFrame, epoch_dir: str, epoch_id: int
    ) -> None:
        """Raise unless the redelivered batch matches the committed
        epoch's stored fingerprint (exactly_once.verify_committed_replay
        — exact, one agg job, survives record retention), falling back
        to the decision record for pre-fingerprint epochs (still exact
        here: the record covers EVERY probed doc)."""
        verify_committed_replay(
            self.spark, batch_df, epoch_dir, epoch_id, "doc_id",
            ledger=self.ledger,
        )

    # -- read-back helper (test / downstream convenience) ----------------
    def decisions(self) -> DataFrame:
        """All LIVE decision rows across epochs. NOTE: the per-epoch
        dirs this reads are also replay records — ``prune_epoch_records``
        over ``decisions_dir`` TRUNCATES this relation to the retained
        window (exactly_once.prune_epoch_records documents the trade;
        :meth:`decisions_full_history` reads past the truncation when
        retention archives)."""
        return self.spark.read.option("basePath", self.decisions_dir).parquet(
            self.decisions_dir
        )

    def decisions_full_history(self) -> DataFrame:
        """The COMPLETE decision relation — union(archive, live) — when
        the maintenance policy archives before pruning; identical to
        :meth:`decisions` when retention never pruned (or no archive is
        configured, where pruning genuinely truncates). Proved equal to
        the never-pruned relation by the
        ``streaming_funnel_archived_history`` driver row (VERDICT r11
        #4)."""
        from .exactly_once import full_epoch_history

        if self.maintenance is None or self.maintenance.archive_root is None:
            return self.decisions()
        return full_epoch_history(
            self.spark,
            self.decisions_dir,
            os.path.join(
                self.maintenance.archive_root,
                os.path.basename(self.decisions_dir.rstrip("/")),
            ),
        )
