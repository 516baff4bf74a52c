"""The per-source budget gate (streaming/source_budget.py) is one piece
of code under both admission sinks; its state rebuild must fail loudly
on a corrupt decision record in either. No index is built here."""

from __future__ import annotations

import pytest


def _gate(spark, kind, root):
    """(the sink's budget gate, the decisions dir it rebuilds from)."""
    if kind == "single":
        from postgresql_transfer_tool_spark.streaming.ingest_funnel import (
            IngestFunnelSink,
        )

        sink = IngestFunnelSink(spark, None, None, str(root), source_budget=100)
        return sink.budget, root / "decisions"
    from postgresql_transfer_tool_spark.streaming.multi_admission import (
        PartitionedFunnelStreams,
    )

    coord = PartitionedFunnelStreams(
        spark, None, None, str(root), slice_by="source", source_budget=100
    )
    return coord._stream(0).budget, root / "s0" / "decisions"


@pytest.mark.parametrize("kind", ["single", "partitioned"])
def test_budget_state_corrupt_decisions_fail_loud(spark, tmp_path, kind):
    """With the state record missing, the gate rebuilds prior
    consumption from the decision records. Only the two legitimate
    empty shapes — dir absent, or holding no parquet part — return
    empty; a corrupt record must raise, never silently zero the
    consumption (which would admit past the cap)."""
    from pyspark.errors import AnalysisException

    gate, decisions = _gate(spark, kind, tmp_path)
    gate.ledger.commit(0)  # a committed prior epoch, no budget record

    # absent decisions dir: legitimately empty state
    assert gate.state(1).count() == 0

    # dir exists but holds no parquet yet: also legitimately empty
    decisions.mkdir(parents=True)
    assert gate.state(1).count() == 0

    # corrupt parquet: must raise, not silently zero the budget state
    ep = decisions / "epoch=0"
    ep.mkdir(parents=True)
    (ep / "part-0000.parquet").write_text("garbage not parquet")
    with pytest.raises(Exception) as ei:
        gate.state(1).count()
    assert not isinstance(ei.value, AnalysisException)
